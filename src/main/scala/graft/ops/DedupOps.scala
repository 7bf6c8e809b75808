package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Order-sensitive dedup / union operators (SURVEY.md U1–U4, H4).
  *
  * pandas `drop_duplicates(keep='first')`
  * (/root/reference/etl_payroll_pipeline.py:317,547) depends on implicit row
  * order. Spark has no implicit row order, so every order-sensitive operator
  * here takes an explicit ingest-ordinal column. The ordinal is attached at
  * the source (`withIngestOrdinal`) and survives arbitrary repartitioning —
  * keep-first semantics are therefore partition-count-independent, which is
  * the property that makes these operators safe at 100 TB.
  */
object DedupOps {

  val OrdinalCol = "_ingest_ord"

  /** Attach an ingest ordinal reflecting current row order.
    *
    * `monotonically_increasing_id` is deterministic for a given partition
    * layout (partition index in the upper bits, row-in-partition in the
    * lower), which makes it a stable ordinal for single-file or
    * deterministically-split reads — the reference's inputs are single
    * files. For large multi-partition inputs prefer
    * [[withIngestOrdinalFrom]] over a sortable natural key. */
  def withIngestOrdinal(df: DataFrame): DataFrame =
    df.withColumn(OrdinalCol, monotonically_increasing_id())

  /** Ordinal derived from a total natural-key ordering — the scale-safe
    * variant (documented invariant, SURVEY §4), fully columnar: no RDD
    * round-trip, no single-partition window over the data.
    *
    * Two-phase numbering. A deterministic hash-sample of the key tuples is
    * sorted in one bounded task (≈ n/`sampleMod` rows — the IVF sample-fit
    * pattern) and every k-th sample key becomes a range boundary; each row's
    * range id is the count of boundaries strictly below its key (a pure
    * function of the key, so ties never straddle ranges). Per-range counts
    * (map-side combined — only `splits` rows per partition cross the wire)
    * become exclusive running offsets via a window over the tiny range
    * frame; the offsets broadcast back and a per-range `row_number` plus
    * the offset is the global ordinal.
    *
    * Everything is a deterministic function of the DATA — unlike a
    * `spark_partition_id`-based scheme, correctness never depends on two
    * plan subtrees seeing the same physical shuffle (Spark's self-join
    * de-duplication re-plans the shared subtree, and AQE may coalesce the
    * two copies differently, so physical partition ids are NOT stable
    * across them — a hazard PlanShapeSpec pins down). Sketch skew only
    * unbalances tasks, never changes an ordinal.
    *
    * `keys` must form a total order for the ordinal to be deterministic.
    * Ordinals start at 1 (row_number parity). A frame smaller than
    * `sampleMod` may yield no boundaries and degrades to one sorted task —
    * correct, and fine at that size.
    *
    * `eager = true` (default) pre-populates the internal cache with one
    * extra job — right when `df`'s dataflow is expensive or the kernel is
    * stacked (x114). Pass `eager = false` for a KNOWN-SMALL input (a
    * post-threshold vocab, a config frame): the keyed frame is persisted
    * lazily, consumers may recompute it a couple of times, and the extra
    * job is skipped — cheaper below roughly 10^5 cheap-to-produce rows.
    * Either way the persist's lifetime is owned by the implicit
    * [[CacheScope]] (session-scoped unless the caller opens one). */
  def withIngestOrdinalFrom(df: DataFrame, keys: Seq[Column],
                            splits: Int = 256,
                            sampleMod: Int = 8192,
                            eager: Boolean = true)
                           (implicit scope: CacheScope): DataFrame = {
    require(keys.nonEmpty, "withIngestOrdinalFrom needs at least one key")
    // three consumers re-read the keyed frame (sample, ranged main pass
    // twice via offsets + final join); without a POPULATED cache the
    // input dataflow re-executes per consumer — lazily persisted frames
    // don't even help, because the kernel's broadcast subtrees (sample
    // count, bounds, offsets) materialize before the main pass ever
    // fills the cache. Worse, NESTED kernels (x114 ranks three metrics)
    // multiply the re-execution into 4^depth passes of the input.
    // Eager populate once (the clusterPairs/rootAndDepth precedent;
    // measured 9.8 s → ~2 s for the triple-kernel x114 at sf0.1);
    // released by the CacheScope in effect (session clearCache hygiene
    // by default).
    val keyed = scope.persist(df.withColumn("_k", struct(keys: _*)))
    if (eager) keyed.count()
    val samp = keyed.filter(pmod(hash(keys: _*), lit(sampleMod)) === 0)
      .select(col("_k"))
    val sampN = samp.agg(count(lit(1)).as("_n"))
    // one bounded task sorts the sample; every ⌈n/splits⌉-th key is a cut
    val bounds = samp
      .withColumn("_rn", row_number().over(Window.orderBy(col("_k"))))
      .crossJoin(broadcast(sampN))
      .filter(col("_rn") % greatest(ceil(col("_n") / splits), lit(1)) === 0)
      .agg(sort_array(collect_list(col("_k"))).as("_bs"))
    // persisted (r17): the range id is an INTERPRETED O(splits) fold per
    // row (struct keys cannot take the native sorted_lower_bound), and
    // ranged feeds two full-frame consumers (offsets agg + final join) —
    // unpersisted, the fold and the keyed-cache scan both ran twice
    // (profiled on x150: the two duplicate 88 k-row stages)
    val ranged = scope.persist(keyed.crossJoin(broadcast(bounds))
      .withColumn("_rb", aggregate(col("_bs"), lit(0),
        (acc, b) => acc + when(col("_k") > b, 1).otherwise(0)))
      .drop("_bs"))
    // tiny: one row per range — the unpartitioned window is bounded by
    // `splits`, never by the data
    val wOff = Window.orderBy(col("_rb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("_rb"))
      .agg(count(lit(1)).as("_pc"))
      .withColumn("_off", coalesce(sum(col("_pc")).over(wOff), lit(0L)))
      .drop("_pc")
    val wLocal = Window.partitionBy(col("_rb")).orderBy(col("_k"))
    ranged.join(broadcast(offsets), Seq("_rb"))
      .withColumn(OrdinalCol,
        row_number().over(wLocal).cast("long") + col("_off"))
      .drop("_rb", "_off", "_k")
  }

  /** U1 — union aligned by column name, missing columns → null, first block
    * ordered before the second (ref 436: BW then MN). Ordinals are
    * block-offset so `keep='first'` sees BW rows first. */
  def unionByNameOrdered(first: DataFrame, second: DataFrame): DataFrame = {
    val a = withIngestOrdinal(first)
    // Offset the second block past any monotonically_increasing_id value of
    // the first (partition bits make a plain max unusable as a base).
    val b = withIngestOrdinal(second)
      .withColumn(OrdinalCol, col(OrdinalCol) + lit(Long.MaxValue / 2))
    a.unionByName(b, allowMissingColumns = true)
  }

  /** U2/U4 — keep-FIRST dedup on a key subset (ref 314-317, 547): the
    * survivor of each key group is the minimum-ordinal row. Keys missing
    * from the schema are ignored (ref guards with `if c in df.columns`).
    *
    * One shuffle on the dedup keys; the window is a partial-agg-free
    * row_number but the alternative (groupBy(keys).agg(min_by(struct(*))))
    * materializes whole rows through the agg — row_number is the
    * cleaner plan and AQE handles skewed keys. */
  def dedupKeepFirst(df: DataFrame, keys: Seq[String]): DataFrame = {
    val present = keys.filter(df.columns.contains)
    if (present.isEmpty) df
    else {
      val w = Window.partitionBy(present.map(col): _*).orderBy(col(OrdinalCol))
      df.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .drop("_rn")
    }
  }

  /** U2 keep-first over an explicit in-group ordering — the scale-preferred
    * form when a sortable natural key exists: the window partitions on the
    * dedup keys (one shuffle, no global sort, no single-partition
    * bottleneck). */
  def dedupKeepFirstBy(df: DataFrame, keys: Seq[String],
                       order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** U3 — full-row distinct that PRESERVES a well-defined ordinal: the kept
    * ordinal of each duplicate group is the group minimum, so a later
    * keep-first (U4) remains deterministic (ref 546-547 chain). */
  def distinctKeepMinOrdinal(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filterNot(_ == OrdinalCol).toIndexedSeq
    df.groupBy(dataCols.map(col): _*)
      .agg(min(col(OrdinalCol)).as(OrdinalCol))
  }

  /** C4-style line-level corpus dedup, with non-overlapping `segTokens`-token
    * segments standing in for lines: a segment occurring anywhere else in the
    * corpus survives only at its first (doc_id, segment) position, and every
    * doc is reassembled from its kept segments in order.
    *
    * Dataflow: one hash agg keyed by segment text (min first-occurrence key),
    * one join back keyed by segment, one per-doc agg — the same three
    * exchanges at 5k docs and at 100 TB; nothing global, nothing on the
    * driver. Input needs `doc_id` (long) and `text`. The first-occurrence
    * key is min(struct(doc_id, seg_id)) — lexicographic struct ordering, so
    * it is exact for any segment count per doc (a packed
    * doc_id*K+seg_id long would silently mis-order once a doc exceeds K
    * segments, which million-token docs at corpus scale would hit).
    *
    * @return (doc_id, n_segs, n_kept, kept_md5) — kept_md5 hashes the
    *         surviving text bytes, space-joined in segment order. */
  def segmentDedup(docs: DataFrame, segTokens: Int = 10): DataFrame = {
    val keyed = docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("_w"))
      .select(col("doc_id"), col("_w"),
        posexplode(sequence(lit(0), size(col("_w")) - 1, lit(segTokens))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_id"),
        array_join(slice(col("_w"), col("col") + 1, lit(segTokens)), " ")
          .as("seg"))
      .withColumn("k", struct(col("doc_id"), col("seg_id")))
    val keeper = keyed.groupBy(col("seg")).agg(min(col("k")).as("kmin"))
    keyed.join(keeper, Seq("seg"))
      .withColumn("kept", col("k") === col("kmin"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
           sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
           md5(array_join(transform(
               sort_array(collect_list(
                 when(col("kept"), struct(col("seg_id"), col("seg"))))),
               _.getField("seg")), " ").cast("binary")).as("kept_md5"))
  }
}
