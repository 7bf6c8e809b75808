package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact distributed prefix sums without per-group single-partition windows.
  *
  * `Window.partitionBy(g).orderBy(v)` materializes EVERY row of a group in
  * one task — correct, but a scale-killer when |group| approaches |rows|:
  * q104's near-unique price domain has 3 groups, so 3 reducers would each
  * sort a third of the world at 100 TB. The classic fix is the two-phase
  * prefix sum: cut each group into bounded ranges, aggregate per-range
  * partial sums (tiny: |groups|·|splits| rows), turn those into exclusive
  * running offsets, broadcast them back, and let each range window only its
  * own slice.
  *
  * Range boundaries come from a `percentile_approx` sketch over the order
  * column. The sketch decides only WHERE to cut, never WHAT to add, so the
  * running sum stays exact regardless of sketch error — a skewed sketch
  * merely unbalances tasks. Boundaries are a pure function of the data
  * (same input → same cuts), so equal order keys always land in the same
  * range and correctness never depends on physical partition ids or
  * exchange reuse.
  *
  * Preconditions: `order` is numeric and non-null; (group, order) pairs are
  * distinct (collapse the domain first, as q104 does) — with duplicate
  * order keys inside one group the within-range running sum is
  * order-ambiguous, exactly as it would be under a plain window.
  */
object PrefixSumOps {

  /** Add `outCum` = running total of `value` over `order` within each
    * `group`, and `outTot` = the group total — both exact, computed with
    * bounded per-task state.
    *
    * @param splits target number of ranges per group; per-task work is
    *               ≈ |group domain| / splits, so size it to keep a range
    *               comfortably in one task (the default suits 1e5–1e9-row
    *               domains at 32–1024 tasks). For LONG and DOUBLE order
    *               keys the range assignment is a native O(log splits)
    *               binary search
    *               ([[graft.functions.expr.SortedLowerBound]]), so
    *               one level can carry thousands of ranges; other numeric
    *               types use an interpreted O(splits) fold — there, or
    *               when the boundary ARRAY itself gets broadcast-heavy,
    *               COMPOSE hierarchically (coarse pass keyed by group,
    *               fine pass keyed by (group, coarse range) → splits²
    *               effective ranges, the standard two-level shape).
    */
  def runningSum(df: DataFrame, group: Seq[String], order: String,
                 value: String, outCum: String, outTot: String,
                 splits: Int = 256)
                (implicit scope: CacheScope): DataFrame = {
    require(splits >= 2, "runningSum needs at least 2 splits")
    val gCols = group.map(col)
    // three consumers read the input (sketch, partials, final join) — the
    // caller usually hands in a freshly-aggregated domain, so persist it
    // rather than re-running that aggregation per pass (released by the
    // session's clearCache hygiene, the repo-wide multi-consumer pattern)
    val in = scope.persist(df)
    // Phase 0 — deterministic range cuts per group from a quantile sketch.
    // Accuracy only balances tasks (a cut off by 1/accuracy of the domain
    // shifts that many rows between neighboring ranges); 500 bounds
    // imbalance to 0.2% of a group — ample for task balance — at a
    // measurably cheaper sketch than the earlier 2000 (OPTIMIZATION_r17.md,
    // "PrefixSumOps sketch accuracy" row: the a=2000 sketch pass was
    // 3.5 s cold / 0.60 s warm on q113's domain, a=100 1.3 / 0.45 — the
    // bench re-pays the cold path every pass via clearCache). Results are accuracy-independent by construction:
    // the sketch places cuts, never values.
    val qs = (1 until splits).map(_.toDouble / splits)
    val bounds = in.groupBy(gCols: _*)
      .agg(percentile_approx(col(order), lit(qs.toArray), lit(500))
        .as("_bs"))
    val bounded =
      if (group.isEmpty) in.crossJoin(broadcast(bounds))
      else in.join(broadcast(bounds), group)
    // Range id = number of cuts strictly below the value: a pure function
    // of (group, order), so ties can never straddle a range boundary.
    // cached too: the range assignment feeds both the partials and the
    // final join — one computation instead of two. For long order keys
    // (the overwhelming case: cents, ids, epochs) the assignment is the
    // native O(log splits) binary search; other numeric types fall back
    // to the interpreted O(splits) fold — identical counts either way.
    val rbExpr = df.schema(order).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DoubleType =>
        graft.functions.expr.SortedLowerBound(col("_bs"), col(order))
      case _ =>
        aggregate(col("_bs"), lit(0),
          (acc, b) => acc + when(col(order) > b, 1).otherwise(0))
    }
    val ranged = scope.persist(bounded
      .withColumn("_rb", rbExpr)
      .drop("_bs"))
    // Phase 1 — per-range partials; |groups|·splits rows, so the
    // group-partitioned window over THEM is bounded by splits, not data.
    val rbCols = gCols :+ col("_rb")
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("_rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(gCols: _*)
    val offsets = ranged.groupBy(rbCols: _*)
      .agg(sum(col(value)).as("_pc"))
      .withColumn("_off", coalesce(sum(col("_pc")).over(wOff), lit(0L)))
      .withColumn(outTot, sum(col("_pc")).over(wTot))
      .drop("_pc")
    // Phase 2 — local running sum inside each range plus its broadcast
    // offset; the per-task sort is one range's slice of the domain.
    val wLoc = Window.partitionBy(rbCols: _*).orderBy(col(order))
    ranged.join(broadcast(offsets), group :+ "_rb")
      .withColumn(outCum, sum(col(value)).over(wLoc) + col("_off"))
      .drop("_rb", "_off")
  }

  /** Exact per-row PREFIX COUNT (1-based position) within each group
    * under a total order that need not be numeric: `orderCols` defines
    * the order, and `cutKey` — any numeric column that is a MONOTONE
    * COARSENING of it (cutKey(a) < cutKey(b) ⇒ a before b; ties resolved
    * by later orderCols) — is what the range sketch cuts. Rows tied on
    * `cutKey` always land in one range (range id is a pure function of
    * the key), so the within-range `row_number` over the full order plus
    * the broadcast range offset is the exact global position.
    *
    * This is [[runningSum]] for value ≡ 1 rows, generalized past numeric
    * order keys: x35's md5-ordered shard positions cut on the hash's top
    * 60 bits (a long, so the native binary-search kernel applies) while
    * ordering by the full 128-bit hex string + id tiebreak.
    *
    * Preconditions: `cutKey` non-null numeric; `orderCols` a total order
    * within each group (positions would otherwise be nondeterministic,
    * exactly as under a plain window). */
  def runningCount(df: DataFrame, group: Seq[String], cutKey: String,
                   orderCols: Seq[Column], outPos: String,
                   splits: Int = 256)
                  (implicit scope: CacheScope): DataFrame = {
    require(splits >= 2, "runningCount needs at least 2 splits")
    require(orderCols.nonEmpty, "runningCount needs at least one order col")
    val gCols = group.map(col)
    val in = scope.persist(df)
    val qs = (1 until splits).map(_.toDouble / splits)
    val bounds = in.groupBy(gCols: _*)
      .agg(percentile_approx(col(cutKey), lit(qs.toArray), lit(500))
        .as("_bs"))
    val bounded =
      if (group.isEmpty) in.crossJoin(broadcast(bounds))
      else in.join(broadcast(bounds), group)
    val rbExpr = df.schema(cutKey).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.DoubleType =>
        graft.functions.expr.SortedLowerBound(col("_bs"), col(cutKey))
      case _ =>
        aggregate(col("_bs"), lit(0),
          (acc, b) => acc + when(col(cutKey) > b, 1).otherwise(0))
    }
    val ranged = scope.persist(bounded.withColumn("_rb", rbExpr).drop("_bs"))
    val rbCols = gCols :+ col("_rb")
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("_rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(rbCols: _*)
      .agg(count(lit(1)).as("_pc"))
      .withColumn("_off", coalesce(sum(col("_pc")).over(wOff), lit(0L)))
      .drop("_pc")
    val wLoc = Window.partitionBy(rbCols: _*).orderBy(orderCols: _*)
    ranged.join(broadcast(offsets), group :+ "_rb")
      .withColumn(outPos, row_number().over(wLoc).cast("long") + col("_off"))
      .drop("_rb", "_off")
  }

  /** Exact multi-rank SELECTION over the same (group, order, value)
    * domain: for each group and each requested 1-based cumulative rank
    * `r`, the smallest `order` value whose running `value` total reaches
    * `r` — medians, quantiles, and equi-depth boundaries WITHOUT
    * materializing the full cumulative column.
    *
    * Where [[runningSum]] joins the broadcast offsets back to the WHOLE
    * domain and windows every range, a k-th-element query only ever needs
    * the ranges that contain a requested rank: phase 1's per-range
    * partials (tiny) locate them, and phase 2 shuffles + windows ONLY
    * those slices — |ranks|/splits of the domain instead of all of it.
    * At 100 TB that is the difference between re-shuffling the collapsed
    * price domain and touching a few thousandths of it.
    *
    * @param ranks an ARRAY<BIGINT> expression; it may reference the group
    *              total as the column `_tot` (e.g.
    *              `array(expr("(_tot + 1) DIV 2"))` for the lower median).
    *              Ranks outside [1, _tot] select nothing and are silently
    *              dropped — deliberate: equi-depth boundary lists shrink
    *              on tiny groups exactly as their bucket arithmetic wants.
    *              Duplicate ranks yield duplicate result rows (one per
    *              array position), which is what duplicate-boundary
    *              semantics need.
    * @return one row per (group, satisfied rank): the group columns plus
    *         `_ri` (0-based position in the ranks array), `_rank` (the
    *         rank itself), the selected `order` value under its original
    *         name, and `_tot` (the group total).
    *
    * Preconditions match [[runningSum]]: non-null numeric `order`,
    * distinct (group, order) pairs — running totals over a domain with
    * duplicate keys are order-ambiguous.
    */
  def selectRanks(df: DataFrame, group: Seq[String], order: String,
                  value: String, ranks: Column,
                  splits: Int = 256)
                 (implicit scope: CacheScope): DataFrame = {
    require(splits >= 2, "selectRanks needs at least 2 splits")
    val gCols = group.map(col)
    val in = scope.persist(df)
    // Phase 0 — one agg carries BOTH the range cuts and the group total
    // (runningSum recomputes the total in phase 1; here the total must
    // exist before ranks can be evaluated, so it rides the sketch pass).
    val qs = (1 until splits).map(_.toDouble / splits)
    // persisted (r17, ADVICE r16): the sketch+total frame is TINY
    // (|groups| rows) but its computation is the expensive full-domain
    // percentile_approx pass, and it feeds BOTH phases' range
    // assignment. Without the persist, phase consistency rested on
    // ReuseExchange collapsing the two identical broadcast subtrees —
    // the file's "correctness never depends on exchange reuse" contract
    // held only under default configs. Caching |groups| rows makes the
    // sketch provably computed once while keeping the r16 win of NOT
    // caching the full-domain ranged frame.
    val bounds = scope.persist(in.groupBy(gCols: _*)
      .agg(percentile_approx(col(order), lit(qs.toArray), lit(500))
             .as("_bs"),
           sum(col(value)).as("_tot")))
    def withRanges(frame: DataFrame): DataFrame = {
      val b =
        if (group.isEmpty) frame.crossJoin(broadcast(bounds))
        else frame.join(broadcast(bounds), group)
      val rbExpr = df.schema(order).dataType match {
        case org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.DoubleType =>
          graft.functions.expr.SortedLowerBound(col("_bs"), col(order))
        case _ =>
          aggregate(col("_bs"), lit(0),
            (acc, bd) => acc + when(col(order) > bd, 1).otherwise(0))
      }
      b.withColumn("_rb", rbExpr).drop("_bs")
    }
    // Phase 1 — per-range partials (|groups|·splits rows) locate, for
    // every requested rank, THE range whose mass bracket contains it and
    // that range's exclusive running offset. The window runs over the
    // tiny partials frame, bounded by splits, never by data.
    val wOff = Window.partitionBy(gCols: _*).orderBy(col("_rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the ranged frame feeds BOTH phase 1's partials and phase 2's slice
    // join, but it is NOT persisted (r16 optimization): caching it pays
    // a full-domain columnar cache WRITE, while phase 2 then reads only
    // the |ranks|/splits rank-carrying slices. Recomputing the broadcast
    // join + O(log splits) binary search from the persisted `in` is one
    // extra map-side pass — the bounds broadcast itself is built once
    // (ReuseExchange collapses the identical subtree). Measured at bench
    // SF on q113's 594k-value domain: a median selection drops
    // 1.32 s → 0.79 s warm (4.5 → 0.9 cold) without the cache write;
    // the earlier "~15% off" persist measurement predated `in` being
    // persisted here and no longer holds.
    val ranged = withRanges(in)
    val targets = ranged
      .groupBy((gCols :+ col("_rb")): _*)
      .agg(sum(col(value)).as("_pc"), first(col("_tot")).as("_tot"))
      .withColumn("_off", coalesce(sum(col("_pc")).over(wOff), lit(0L)))
      .select(gCols ++ Seq(col("_rb"), col("_off"), col("_pc"), col("_tot"),
        posexplode(ranks).as(Seq("_ri", "_rank"))): _*)
      .filter(col("_off") < col("_rank") &&
              col("_rank") <= col("_off") + col("_pc"))
      .drop("_pc")
    // Phase 2 — window ONLY the target slices: the broadcast join prunes
    // every row outside a rank-carrying range (and replicates a range per
    // rank it satisfies — ranks are few by contract). Within one slice
    // the selected value is the first to push the running total past the
    // rank.
    val wLoc = Window
      .partitionBy((gCols ++ Seq(col("_rb"), col("_ri"))): _*)
      .orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranged.drop("_tot")
      .join(broadcast(targets), group :+ "_rb")
      .withColumn("_cum", sum(col(value)).over(wLoc) + col("_off"))
      .groupBy((gCols ++ Seq(col("_ri"), col("_rank"), col("_tot"))): _*)
      .agg(min(when(col("_cum") >= col("_rank"), col(order))).as(order))
      .select(gCols ++ Seq(col("_ri"), col("_rank"), col(order),
        col("_tot")): _*)
  }
}
