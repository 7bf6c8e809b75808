package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.ops.ColumnOps.cents

/** Warehouse-maintenance operators: SCD1 upsert (MERGE), snapshot diff
  * (CDC), and column profiling — the remaining ETL verbs a user of a
  * batch pipeline engine reaches for between the ingest and the
  * analytics layers.
  *
  * Scale notes: the upsert and the diff are ONE full-outer shuffled join
  * each, keyed on the natural key — the exact dataflow a MERGE INTO
  * compiles to; AQE handles skew. Profiling is a melt (columns→rows,
  * map-side) plus one hash agg keyed by column name — column count,
  * not row count, bounds the group cardinality. */
object EtlQueries {

  /** q117 core — maintain the join view V = γ_prio(count, sum c) of
    * fact ⋈ dim under a SIGNED delta batch: `batch` rows carry
    * m = +1 (insert) / −1 (delete of a row present in the base), and
    * the maintained partials are Δn = Σm, Δs = Σ m·c. The base fact is
    * never rescanned — only its (tiny) partial-aggregate state merges
    * with the delta view, and the arriving batch is explicitly the
    * broadcast side of its dimension join (at 100 TB the batch is the
    * small side against a huge dimension). A group whose merged count
    * hits 0 leaves the view; a negative merged count means the feed
    * deleted rows it never inserted — surfaced loudly downstream by the
    * n_items > 0 filter dropping the group entirely rather than
    * publishing negative counts.
    *
    * @param baseFact (ok, c) rows of the current base state
    * @param batch    (ok, c, m) signed CDC rows
    * @param dim      (ok, prio) join dimension */
  private[graft] def ivmRetract(baseFact: DataFrame, batch: DataFrame,
                                dim: DataFrame): DataFrame = {
    val base = baseFact.join(dim, Seq("ok"))
      .groupBy(col("prio"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
    val delta = broadcast(batch).join(dim, Seq("ok"))
      .groupBy(col("prio"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("c")).as("s"))
    base.unionAll(delta)
      .groupBy(col("prio"))
      .agg(sum(col("n")).as("n_items"), sum(col("s")).as("rev_cents"))
      .filter(col("n_items") > 0)
      .withColumn("avg_cents", expr("rev_cents DIV n_items"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Q67 — SCD1 upsert (MERGE INTO ... WHEN MATCHED UPDATE / WHEN NOT
    // MATCHED INSERT), expressed engine-agnostically as a full-outer join
    // with source-wins coalescing. The source batch is derived
    // deterministically from the target so the oracle sees the same data.
    "q67_upsert" -> ((s, dir) => {
      val t = Tables(s, dir, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"),
                cents(col("c_acctbal")).as("bal_cents"))
      val upd = t.filter(col("c_custkey") % 10 === 0)
        .select(col("c_custkey"), concat(col("c_name"), lit("*")).as("c_name"),
                lit("UPDATED").as("c_mktsegment"),
                (col("bal_cents") + 100).as("bal_cents"))
      val ins = t.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000).as("c_custkey"), col("c_name"),
                lit("NEWSEG").as("c_mktsegment"), lit(0L).as("bal_cents"))
      val src = upd.unionByName(ins)
      val tt = t.select(col("c_custkey"), col("c_name").as("_tn"),
                        col("c_mktsegment").as("_tm"), col("bal_cents").as("_tb"))
      val ss = src.select(col("c_custkey"), col("c_name").as("_sn"),
                          col("c_mktsegment").as("_sm"), col("bal_cents").as("_sb"))
      tt.join(ss, Seq("c_custkey"), "full_outer")
        .select(col("c_custkey"),
                coalesce(col("_sn"), col("_tn")).as("c_name"),
                coalesce(col("_sm"), col("_tm")).as("c_mktsegment"),
                coalesce(col("_sb"), col("_tb")).as("bal_cents"),
                when(col("_tn").isNull, "I")
                  .when(col("_sn").isNull, ".").otherwise("U").as("op"))
        .orderBy(col("c_custkey"))
    }),

    // Q68 — snapshot diff (change data capture between two table
    // versions): one full-outer join keyed on the natural key classifies
    // every row as added / removed / changed, emitting old and new
    // values side by side. Version B is derived deterministically:
    // %7 keys deleted, %5 prices bumped, %11 statuses flipped,
    // %13 keys re-inserted under a new id.
    "q68_snapshot_diff" -> ((s, dir) => {
      val a = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                cents(col("o_totalprice")).as("price_cents"))
      val b0 = a.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"),
          when(col("o_orderkey") % 11 === 0, "X")
            .otherwise(col("o_orderstatus")).as("o_orderstatus"),
          when(col("o_orderkey") % 5 === 0, col("price_cents") + 500)
            .otherwise(col("price_cents")).as("price_cents"))
      val badd = a.filter(col("o_orderkey") % 13 === 0)
        .select((col("o_orderkey") + 5000000).as("o_orderkey"),
                col("o_orderstatus"), col("price_cents"))
      val b = b0.unionByName(badd)
      val aa = a.select(col("o_orderkey"), col("o_orderstatus").as("_as"),
                        col("price_cents").as("_ap"))
      val bb = b.select(col("o_orderkey"), col("o_orderstatus").as("_bs"),
                        col("price_cents").as("_bp"))
      aa.join(bb, Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("_as").isNull, "added")
            .when(col("_bs").isNull, "removed")
            .when(col("_as") =!= col("_bs") || col("_ap") =!= col("_bp"),
                  "changed")
            .otherwise("unchanged"))
        .filter(col("change_type") =!= "unchanged")
        .select(col("o_orderkey"), col("change_type"),
                col("_as").as("old_status"), col("_bs").as("new_status"),
                col("_ap").as("old_cents"), col("_bp").as("new_cents"))
        .orderBy(col("o_orderkey"))
    }),

    // Q69 — column profiling (data-quality observability): per column,
    // row count, null count (after ''-marker normalization), distinct
    // count, and min/max — the standard profile report, computed as a
    // melt + one agg keyed by column name.
    "q69_profile" -> ((s, dir) => {
      val base = Tables(s, dir, "events").select(
        col("event_type").as("c_event_type"),
        nullif(trim(col("props")), lit("")).as("c_props"),
        col("user_id").cast("string").as("c_user_id"))
      base.unpivot(Array.empty[Column],
          Array(col("c_event_type"), col("c_props"), col("c_user_id")),
          "col_name", "val")
        .groupBy(col("col_name"))
        .agg(count(lit(1)).as("n"),
             (count(lit(1)) - count(col("val"))).as("n_null"),
             count_distinct(col("val")).as("n_distinct"),
             min(col("val")).as("min_s"), max(col("val")).as("max_s"))
        .orderBy(col("col_name"))
    }),

    // Q70 — SLIDING time-window aggregation (1 h window, 30 min slide):
    // each event lands in exactly two overlapping epoch-aligned windows.
    // Window membership is a pure projection (constant fan-out 2), so the
    // shuffle key count is active-buckets × types, not event count.
    "q70_sliding_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"),
             sum(cents(col("value"))).as("sum_cents"))
        .select(col("window.start").as("win_start"), col("event_type"),
                col("n"), col("sum_cents"))
        .orderBy(col("win_start"), col("event_type"))),

    // Q71 — session windows via the NATIVE session_window function (the
    // batch twin of streaming session aggregation; x13 is the same
    // semantics composed from gaps-and-islands windows). A new session
    // starts when the gap is ≥ the 30-minute timeout — microsecond-exact.
    "q71_session_window" -> ((s, dir) =>
      Tables(s, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"),
             min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))
        .select(col("user_id"), col("start_ts"), col("end_ts"),
                col("n_events"))
        .orderBy(col("user_id"), col("start_ts"))),

    // Q98 — last-touch marketing attribution: each purchase is credited
    // to the user's most recent click/view at-or-before it (none →
    // 'direct'). The per-conversion lookup is ONE as-of join — a single
    // shuffle + sort per user group ([[graft.operators.TemporalJoins]]),
    // never a per-row correlated probe — then a tiny keyed rollup.
    "q98_attribution" -> ((s, dir) => {
      val ev = Tables(s, dir, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"),
                cents(col("value")).as("cents"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("ts"),
                col("event_type").as("channel"))
      graft.operators.TemporalJoins
        .asofJoinBackward(conv, touch, Seq("user_id"),
                          leftTs = "ts", rightTs = "ts",
                          rightPayload = Seq("channel"))
        .groupBy(coalesce(col("channel_r"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_conv"),
             sum(col("cents")).as("revenue_cents"))
        .orderBy(col("channel"))
    }),

    // Q116 — LINEAR multi-touch attribution (q98's last-touch sibling):
    // every click/view in the 7 days before a purchase shares its value,
    // each touch weighted 1/n (credit = (cents · k_channel) DIV n per
    // conversion — integer, remainder dropped identically on both
    // engines). The touch window is a one-sided interval join executed
    // as a banded equi-join: touches carry their 7-day time cell, each
    // conversion probes exactly 2 cells (its own + the previous — a
    // touch ≤ 7 days older can live nowhere else), so the shuffle stays
    // O(N) keyed on (user, cell) and the residual bound is a post-join
    // filter — the q29 shape across two tables, never a per-row probe.
    // Untouched conversions credit 'direct' via one anti join.
    "q116_multitouch" -> ((s, dir) => {
      val gapUs = 7L * 86400 * 1000000L
      val ev = Tables(s, dir, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("cid"), col("user_id"),
                unix_micros(col("ts")).as("ep"),
                cents(col("value")).as("cents"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), unix_micros(col("ts")).as("et"),
                col("event_type").as("channel"))
        .withColumn("cell", expr(s"et DIV ${gapUs}L"))
      val probe = conv.withColumn("cell",
        explode(array(expr(s"ep DIV ${gapUs}L"),
                      expr(s"ep DIV ${gapUs}L - 1"))))
      val matched = probe.join(touch, Seq("user_id", "cell"))
        .filter(col("et") <= col("ep") &&
                col("et") >= col("ep") - lit(gapUs))
      val k = matched.groupBy(col("cid"), col("cents"), col("channel"))
        .agg(count(lit(1)).as("k"))
      val n = k.groupBy(col("cid")).agg(sum(col("k")).as("n"))
      val credited = k.join(n, Seq("cid"))
        .groupBy(col("channel"))
        .agg(sum(expr("(cents * k) DIV n")).as("credit_cents"))
      val direct = conv
        .join(matched.select(col("cid")).distinct(), Seq("cid"), "left_anti")
        .agg(coalesce(sum(col("cents")), lit(0L)).as("credit_cents"))
        .select(lit("direct").as("channel"), col("credit_cents"))
      credited.unionByName(direct).orderBy(col("channel"))
    }),

    // X113 — U-SHAPED (position-based) multi-touch attribution: q116
    // splits credit 1/n; the position-based model the ad platforms
    // default to gives 40% to the FIRST touch, 40% to the LAST, and
    // splits 20% across the middles. Credits are integer permille with
    // LARGEST-REMAINDER assignment over the middles (earliest middles
    // absorb the remainder), so every conversion's credits sum to
    // exactly 1000 — no float splits, no lost permille, bit-identical
    // cross-engine. Same banded-cell interval join as q116 for the
    // touch window; the rank and the touch count ride ONE cid-keyed
    // exchange (ordered row_number + unordered count over the same
    // partition).
    "x113_ushape_attribution" -> ((s, dir) => {
      val gapUs = 7L * 86400 * 1000000L
      val ev = Tables(s, dir, "events")
      val conv = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("cid"), col("user_id"),
                unix_micros(col("ts")).as("ep"))
      val touch = ev.filter(col("event_type").isin("click", "view"))
        .select(col("user_id"), col("event_id").as("tid"),
                unix_micros(col("ts")).as("et"))
        .withColumn("cell", expr(s"et DIV ${gapUs}L"))
      val probe = conv.withColumn("cell",
        explode(array(expr(s"ep DIV ${gapUs}L"),
                      expr(s"ep DIV ${gapUs}L - 1"))))
      val matched = probe.join(touch, Seq("user_id", "cell"))
        .filter(col("et") <= col("ep") &&
                col("et") >= col("ep") - lit(gapUs))
        .select(col("cid"), col("user_id"), col("tid"), col("et"))
      val wOrd = Window.partitionBy(col("cid"))
        .orderBy(col("et"), col("tid"))
      matched
        .withColumn("rn", row_number().over(wOrd).cast("long"))
        .withColumn("n", count(lit(1))
          .over(Window.partitionBy(col("cid"))).cast("long"))
        .withColumn("credit_permille",
          when(col("n") === 1, 1000L)
          .when(col("n") === 2, 500L)
          .when(col("rn") === 1 || col("rn") === col("n"), 400L)
          .otherwise(expr(
            "200 DIV (n - 2) + IF(rn - 2 < 200 % (n - 2), 1, 0)")))
        .select(col("cid"), col("user_id"), col("tid"), col("rn"),
                col("n"), col("credit_permille"))
        .orderBy(col("cid"), col("rn"))
    }),

    // Q99 — incremental rollup maintenance: the nightly-delta pattern.
    // The base partition's partial aggregate (at 100 TB: a tiny persisted
    // state table) merges with the delta's partial via union + re-agg —
    // the base RAW data is never rescanned. All aggregates here are
    // decomposable (count/sum/max re-aggregate; avg derives from sum and
    // count at the end), which is exactly what makes the pattern valid;
    // the oracle recomputes from scratch, proving merge ≡ full recompute.
    // Q115 — incremental view maintenance for a JOIN view: V = γ(A ⋈ B)
    // under an insert-only delta of the fact A obeys
    // ΔV = γ(ΔA ⋈ B) — the delta joins the dimension, the BASE fact is
    // never rescanned, and V' merges V with ΔV by re-aggregating the
    // decomposable partials (q99's merge, upgraded past one table). The
    // delta side is explicitly broadcast: at 100 TB the arriving batch
    // is the small side against a huge dimension, so maintenance costs
    // O(|Δ| + |ΔV| + |V|) with zero exchange of B (plan-asserted: the
    // delta branch joins as BroadcastHashJoin). The oracle recomputes
    // the view from scratch — merge ≡ full recompute is the whole
    // correctness claim.
    "q115_ivm_join" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
                cents(col("l_extendedprice")).as("c"))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
                col("o_orderpriority").as("prio"))
      def view(items: DataFrame) = items.join(o, Seq("ok"))
        .groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"))
      val base = view(li.filter(col("ok") % 10 =!= 7))
      val delta = view(broadcast(li.filter(col("ok") % 10 === 7)))
      base.unionAll(delta)
        .groupBy(col("prio"))
        .agg(sum(col("n")).as("n_items"), sum(col("s")).as("rev_cents"))
        .withColumn("avg_cents", expr("rev_cents DIV n_items"))
        .orderBy(col("prio"))
    }),

    // Q117 — IVM with RETRACTION: q115 handles insert-only deltas, but a
    // real CDC feed carries deletes. Each batch row gets a signed
    // multiplicity m (+1 insert, −1 delete); the maintained partials are
    // Δn = Σm and Δs = Σ m·c — γ(Δ⁺A ⋈ B) − γ(Δ⁻A ⋈ B) in ONE pass of
    // one broadcast batch, base fact never rescanned. Groups whose
    // merged count reaches 0 leave the view (the HAVING arm of the
    // merge — q109's MERGE delete arm applied to aggregation state).
    // Batch here: insert the ok%10=7 rows, delete the ok%10=3 rows
    // already in the base; the oracle recomputes from scratch on the
    // post-batch corpus (ok%10 <> 3), so merge ≡ full recompute is the
    // checked claim, deletes included.
    "q117_ivm_retract" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("ok"),
                cents(col("l_extendedprice")).as("c"))
      val o = Tables(s, dir, "orders")
        .select(col("o_orderkey").as("ok"),
                col("o_orderpriority").as("prio"))
      val batch = li.filter(col("ok") % 10 === 7)
          .withColumn("m", lit(1L))
        .unionAll(li.filter(col("ok") % 10 === 3)
          .withColumn("m", lit(-1L)))
      ivmRetract(li.filter(col("ok") % 10 =!= 7), batch, o)
        .orderBy(col("prio"))
    }),

    "q99_incremental_rollup" -> ((s, dir) => {
      val o = Tables(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
                col("o_orderdate").as("d"),
                cents(col("o_totalprice")).as("c"))
      def partial(df: DataFrame) = df.groupBy(col("prio"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
             max(col("c")).as("mx"))
      val base = partial(o.filter(col("d") < lit("1997-01-01")))
      val delta = partial(o.filter(col("d") >= lit("1997-01-01")))
      base.unionAll(delta)
        .groupBy(col("prio"))
        .agg(sum(col("n")).as("n_orders"), sum(col("s")).as("revenue_cents"),
             max(col("mx")).as("max_cents"))
        .withColumn("avg_cents", expr("revenue_cents DIV n_orders"))
        .orderBy(col("prio"))
    }),

    // Q105 — referential-integrity audit: orphan counts along the
    // fact→dim chain (lineitem→orders→customer→nation), each ONE
    // left-anti join on the key — the data-quality gate a warehouse
    // load runs before publishing. Distinct key counts ride the same
    // pass; the child side aggregates to its key set FIRST, so each
    // anti join probes |distinct keys| rows, never the fact table.
    // X101 — DECLARATIVE quality-constraint suite (Deequ-shaped): the
    // publish gate as a VALUE — a list of declared checks evaluated by
    // [[graft.ops.QualityOps.report]] into one (check, observed,
    // violations, pass) frame. All four row-level checks share ONE
    // aggregation pass (conditional sums — adding a check adds a column,
    // not a scan); Unique is one keyed agg, the FK check one anti join
    // over distinct child keys. q69/q105 are the ad-hoc forms; this is
    // the contract form a pipeline declares once and runs per load.
    "x101_quality_report" -> ((s, dir) => {
      import graft.ops.QualityOps._
      val o = Tables(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      report(o, Seq(
        NotNull("o_custkey"),
        InSet("o_orderstatus", Seq("O", "F", "P")),
        Bounds("cents", 1L, 100000000L),
        Satisfies("date_range",
          col("o_orderdate") >= lit("1992-01-01").cast("timestamp")),
        Unique(Seq("o_orderkey")),
        RefIntegrity("o_custkey", Tables(s, dir, "customer"), "c_custkey")))
        .orderBy(col("check"))
    }),

    "q105_ri_audit" -> ((s, dir) => {
      import s.implicits._
      def audit(name: String, childKeys: DataFrame, parent: DataFrame,
                key: String) = {
        val orphans = childKeys.join(parent, Seq(key), "left_anti")
        childKeys.agg(count(lit(1)).as("n_keys"))
          .crossJoin(broadcast(orphans.agg(count(lit(1)).as("n_orphans"))))
          .select(lit(name).as("relation"), col("n_keys"),
                  col("n_orphans"))
      }
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey").as("o_orderkey")).distinct()
      val ord = Tables(s, dir, "orders")
      val cust = Tables(s, dir, "customer")
      val oc = ord.select(col("o_custkey").as("c_custkey")).distinct()
      val cn = cust.select(col("c_nationkey").as("n_nationkey")).distinct()
      audit("lineitem->orders", li, ord.select(col("o_orderkey")), "o_orderkey")
        .unionAll(audit("orders->customer", oc,
                        cust.select(col("c_custkey")), "c_custkey"))
        .unionAll(audit("customer->nation", cn,
          Tables(s, dir, "nation").select(col("n_nationkey")), "n_nationkey"))
        .orderBy(col("relation"))
    }))

  val oracleSql: Map[String, String] = Map(
    "q67_upsert" ->
      """WITH t AS (SELECT c_custkey, c_name, c_mktsegment,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
           FROM customer),
         upd AS (SELECT c_custkey, c_name || '*' AS c_name,
                   'UPDATED' AS c_mktsegment, bal_cents + 100 AS bal_cents
                 FROM t WHERE c_custkey % 10 = 0),
         ins AS (SELECT c_custkey + 1000000 AS c_custkey, c_name,
                   'NEWSEG' AS c_mktsegment, 0::BIGINT AS bal_cents
                 FROM t WHERE c_custkey % 100 = 0),
         src AS (SELECT * FROM upd UNION ALL SELECT * FROM ins)
         SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_name, t.c_name) AS c_name,
           COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
           COALESCE(s.bal_cents, t.bal_cents) AS bal_cents,
           CASE WHEN t.c_custkey IS NULL THEN 'I'
                WHEN s.c_custkey IS NULL THEN '.' ELSE 'U' END AS op
         FROM t FULL JOIN src s USING (c_custkey)
         ORDER BY c_custkey""",

    "q68_snapshot_diff" ->
      """WITH a AS (SELECT o_orderkey, o_orderstatus,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
           FROM orders),
         b AS (
           SELECT o_orderkey,
             CASE WHEN o_orderkey % 11 = 0 THEN 'X' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN price_cents + 500
                  ELSE price_cents END AS price_cents
           FROM a WHERE o_orderkey % 7 <> 0
           UNION ALL
           SELECT o_orderkey + 5000000, o_orderstatus, price_cents
           FROM a WHERE o_orderkey % 13 = 0)
         SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
           CASE WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_orderstatus <> b.o_orderstatus
                  OR a.price_cents <> b.price_cents THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           a.o_orderstatus AS old_status, b.o_orderstatus AS new_status,
           a.price_cents AS old_cents, b.price_cents AS new_cents
         FROM a FULL JOIN b ON a.o_orderkey = b.o_orderkey
         WHERE NOT (a.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL
                    AND a.o_orderstatus = b.o_orderstatus
                    AND a.price_cents = b.price_cents)
         ORDER BY o_orderkey""",

    "q69_profile" ->
      """WITH base AS (SELECT event_type AS c_event_type,
             nullif(trim(props), '') AS c_props,
             user_id::VARCHAR AS c_user_id FROM events)
         SELECT col_name, count(*) AS n, count(*) - count(v) AS n_null,
           count(DISTINCT v) AS n_distinct,
           min(v) AS min_s, max(v) AS max_s
         FROM (
           SELECT 'c_event_type' AS col_name, c_event_type AS v FROM base
           UNION ALL
           SELECT 'c_props', c_props FROM base
           UNION ALL
           SELECT 'c_user_id', c_user_id FROM base) m
         GROUP BY col_name ORDER BY col_name""",

    "q70_sliding_window" ->
      """WITH b AS (SELECT
             epoch_us(ts) // 1000000 - (epoch_us(ts) // 1000000) % 1800 AS s0,
             event_type, value FROM events),
         e2 AS (SELECT make_timestamp(s0 * 1000000) AS win_start,
                  event_type, value FROM b
                UNION ALL
                SELECT make_timestamp((s0 - 1800) * 1000000),
                  event_type, value FROM b)
         SELECT win_start, event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM e2 GROUP BY 1, 2 ORDER BY win_start, event_type""",

    "q71_session_window" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
                  THEN 1 ELSE 0 END AS flag
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT user_id, ts,
                 sum(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
               FROM flagged)
         SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
           count(*) AS n_events
         FROM s GROUP BY user_id, sid ORDER BY user_id, start_ts""",

    // the as-of join is inclusive (ts ≤ conv ts) with ties broken by the
    // GREATEST payload — mirrored by ORDER BY ts DESC, channel DESC
    "q98_attribution" ->
      """WITH conv AS (SELECT user_id, ts,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, ts, event_type AS channel
           FROM events WHERE event_type IN ('click', 'view')),
         lt AS (SELECT c.cents,
             (SELECT t.channel FROM touch t
              WHERE t.user_id = c.user_id AND t.ts <= c.ts
              ORDER BY t.ts DESC, t.channel DESC LIMIT 1) AS channel
           FROM conv c)
         SELECT coalesce(channel, 'direct') AS channel,
           count(*) AS n_conv, sum(cents)::BIGINT AS revenue_cents
         FROM lt GROUP BY 1 ORDER BY 1""",

    // the textbook correlated interval join — the banded plan must match
    "q116_multitouch" ->
      """WITH conv AS (SELECT event_id AS cid, user_id,
             epoch_us(ts) AS ep,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, epoch_us(ts) AS et,
             event_type AS channel
           FROM events WHERE event_type IN ('click', 'view')),
         t AS (SELECT c.cid, c.cents, tt.channel
               FROM conv c JOIN touch tt ON tt.user_id = c.user_id
                AND tt.et <= c.ep AND tt.et >= c.ep - 604800000000),
         k AS (SELECT cid, cents, channel, count(*)::BIGINT AS k
               FROM t GROUP BY 1, 2, 3),
         n AS (SELECT cid, sum(k)::BIGINT AS n FROM k GROUP BY 1),
         credited AS (SELECT k.channel,
             sum((k.cents * k.k) // n.n)::BIGINT AS credit_cents
           FROM k JOIN n USING (cid) GROUP BY 1),
         direct AS (SELECT 'direct' AS channel,
             coalesce(sum(cents), 0)::BIGINT AS credit_cents
           FROM conv WHERE cid NOT IN (SELECT cid FROM t))
         SELECT channel, credit_cents FROM credited
         UNION ALL SELECT channel, credit_cents FROM direct
         ORDER BY channel""",

    "x113_ushape_attribution" ->
      """WITH conv AS (SELECT event_id AS cid, user_id,
             epoch_us(ts) AS ep
           FROM events WHERE event_type = 'purchase'),
         touch AS (SELECT user_id, event_id AS tid, epoch_us(ts) AS et
           FROM events WHERE event_type IN ('click', 'view')),
         m AS (SELECT c.cid, c.user_id, t.tid, t.et
               FROM conv c JOIN touch t ON t.user_id = c.user_id
                AND t.et <= c.ep AND t.et >= c.ep - 604800000000),
         r AS (SELECT cid, user_id, tid,
                 row_number() OVER (PARTITION BY cid
                   ORDER BY et, tid)::BIGINT AS rn,
                 count(*) OVER (PARTITION BY cid)::BIGINT AS n
               FROM m)
         SELECT cid, user_id, tid, rn, n,
           (CASE WHEN n = 1 THEN 1000
                 WHEN n = 2 THEN 500
                 WHEN rn = 1 OR rn = n THEN 400
                 ELSE 200 // (n - 2) +
                   (CASE WHEN rn - 2 < 200 % (n - 2) THEN 1 ELSE 0 END)
            END)::BIGINT AS credit_permille
         FROM r ORDER BY cid, rn""",

    // full recompute of the maintained join view — incremental must match
    "q115_ivm_join" ->
      """SELECT o_orderpriority AS prio, count(*)::BIGINT AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
             AS rev_cents,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
             // count(*) AS avg_cents
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         GROUP BY 1 ORDER BY 1""",

    // full recompute on the POST-BATCH corpus (inserts applied, deletes
    // gone) — the retracting merge must reproduce it exactly
    "q117_ivm_retract" ->
      """SELECT o_orderpriority AS prio, count(*)::BIGINT AS n_items,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
             AS rev_cents,
           sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT
             // count(*) AS avg_cents
         FROM lineitem JOIN orders ON o_orderkey = l_orderkey
         WHERE l_orderkey % 10 <> 3
         GROUP BY 1 ORDER BY 1""",

    "q99_incremental_rollup" ->
      """SELECT o_orderpriority AS prio, count(*) AS n_orders,
           sum(round(o_totalprice * 100))::BIGINT AS revenue_cents,
           max(round(o_totalprice * 100))::BIGINT AS max_cents,
           sum(round(o_totalprice * 100))::BIGINT // count(*) AS avg_cents
         FROM orders GROUP BY 1 ORDER BY 1""",

    "q105_ri_audit" ->
      """WITH lo AS (SELECT count(DISTINCT l_orderkey)::BIGINT AS n_keys,
             count(DISTINCT l_orderkey) FILTER (WHERE o_orderkey IS NULL)
               ::BIGINT AS n_orphans
           FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey),
         oc AS (SELECT count(DISTINCT o_custkey)::BIGINT AS n_keys,
             count(DISTINCT o_custkey) FILTER (WHERE c_custkey IS NULL)
               ::BIGINT AS n_orphans
           FROM orders LEFT JOIN customer ON o_custkey = c_custkey),
         cn AS (SELECT count(DISTINCT c_nationkey)::BIGINT AS n_keys,
             count(DISTINCT c_nationkey) FILTER (WHERE n_nationkey IS NULL)
               ::BIGINT AS n_orphans
           FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey)
         SELECT 'lineitem->orders' AS relation, n_keys, n_orphans FROM lo
         UNION ALL
         SELECT 'orders->customer', n_keys, n_orphans FROM oc
         UNION ALL
         SELECT 'customer->nation', n_keys, n_orphans FROM cn
         ORDER BY relation""",

    "x101_quality_report" ->
      """WITH o AS (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT)
                      AS cents FROM orders),
         n AS (SELECT count(*)::BIGINT AS n FROM o),
         rep AS (
           SELECT 'not_null(o_custkey)' AS chk, n.n AS observed,
             (SELECT count(*) FROM o WHERE o_custkey IS NULL)::BIGINT
               AS violations FROM n
           UNION ALL
           SELECT 'in_set(o_orderstatus)', n.n,
             (SELECT count(*) FROM o WHERE o_orderstatus IS NULL
                OR o_orderstatus NOT IN ('O', 'F', 'P'))::BIGINT FROM n
           UNION ALL
           SELECT 'bounds(cents)', n.n,
             (SELECT count(*) FROM o WHERE cents IS NULL
                OR cents < 1 OR cents > 100000000)::BIGINT FROM n
           UNION ALL
           SELECT 'satisfies(date_range)', n.n,
             (SELECT count(*) FROM o WHERE NOT coalesce(
                o_orderdate >= TIMESTAMP '1992-01-01', FALSE))::BIGINT
             FROM n
           UNION ALL
           SELECT 'unique(o_orderkey)',
             (SELECT count(DISTINCT o_orderkey) FROM o)::BIGINT,
             (SELECT coalesce(sum(CASE WHEN o_orderkey IS NULL THEN c
                                       WHEN c > 1 THEN c - 1
                                       ELSE 0 END), 0) FROM (
                SELECT o_orderkey, count(*) AS c FROM o
                GROUP BY o_orderkey))::BIGINT
           UNION ALL
           SELECT 'ref(o_custkey)',
             (SELECT count(DISTINCT o_custkey) FROM o
              WHERE o_custkey IS NOT NULL)::BIGINT,
             (SELECT count(DISTINCT o_custkey) FROM o
              LEFT JOIN customer ON o_custkey = c_custkey
              WHERE o_custkey IS NOT NULL AND c_custkey IS NULL)::BIGINT)
         SELECT chk AS "check", observed, violations,
           (violations = 0) AS pass
         FROM rep ORDER BY chk""")
}
