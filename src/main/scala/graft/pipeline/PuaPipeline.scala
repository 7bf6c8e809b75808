package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import graft.ops._

/** PUA transformation pipeline — Spark-first re-expression of
  * /root/reference/etl_payroll_pipeline.py:235-380.
  *
  * The whole pipeline is ONE lazy logical plan: Catalyst collapses the
  * derive/rename/select layers (CollapseProject), prunes columns into the
  * scans, and broadcasts every lookup join; the only shuffle is the
  * keep-first dedup window on (UIN, Pay Event, Job Number).
  *
  * Null conventions mirror the reference site-by-site (SURVEY.md §1.4):
  *  - `ensure_string` sites (astype("string")): trim, nulls KEPT → concats
  *    null-propagate (H3).
  *  - `astype(str)` sites (strip_decimal_str, E-Class, TE M): null → the
  *    literal "nan" (H2).
  */
object PuaPipeline {

  final case class Inputs(
      pua: DataFrame,       // primary extract, all-string, with _ingest_ord
      tsOrg: DataFrame,     // TS-Org Code, TS-Org Title
      tsDept: DataFrame,    // TS-Org Dept Code, TS-Org Dept Title
      overtime: DataFrame,  // Job Eclass, Overtime FLSA, ...
      teM: DataFrame)       // TE M, Time Entry Method, ...

  /** Reshape spec (ref 330-357 `col_map`): output name ← source name. */
  val ColMap: Seq[(String, String)] = Seq(
    "UIN" -> "UIN", "Pay ID" -> "Pay ID", "Year" -> "Year",
    "Pay #" -> "Pay #", "Seq #" -> "Seq #", "Job Number" -> "Job Number",
    "College Code" -> "College Code", "College Name" -> "College Name",
    "College" -> "College", "TS COA" -> "TS COA", "TS Org" -> "TS ORG",
    "TS-Org Code" -> "TS-Org Code", "TS-Org Title" -> "TS-Org Title",
    "Dept Code" -> "DEPT Code", "TS-Org Dept Code" -> "TS-Org Dept Code",
    "TS-Org Dept Title" -> "TS-Org Dept Title", "E-Class Code" -> "ECLS",
    "E-Class" -> "ECLS DESC", "TE M" -> "TE M", "Time Entry" -> "Time Entry",
    "Overtime" -> "Overtime", "Earn Code" -> "Earn Code",
    "Earn Code Description" -> "DESCRIPTION",
    "Adjustment Reason Code" -> "ADJ Reason Code",
    "Adjustment Reason" -> "ADJ Reason DESC", "Calc Date" -> "Calc Date")

  /** Header-variant tolerance for the ADJ columns (ref 256-261). */
  val AdjAliases: Seq[(String, String)] = Seq(
    "ADj Reason Code" -> "ADJ Reason Code",
    "Adj Reason Code" -> "ADJ Reason Code",
    "Adj Reason" -> "ADJ Reason DESC")

  /** Source-field projection before dedup (ref 301-309). */
  val SourceFields: Seq[String] = Seq(
    "UIN", "Pay ID", "Year", "Pay #", "Seq #", "Job Number",
    "College Code", "College Name", "College",
    "TS COA", "TS ORG", "TS-Org Code", "TS-Org Title",
    "DEPT Code", "TS-Org Dept Code", "TS-Org Department Code",
    "TS-Org Dept Title", "ECLS", "ECLS DESC", "E-Class", "TE M",
    "Time Entry", "Overtime", "Earn Code", "DESCRIPTION",
    "ADJ Reason Code", "ADJ Reason DESC", "Calc Date", "Pay Event",
    "POSN", "SUFF")

  /** The implicit [[CacheScope]] owns any operator-internal persist made
    * while the pipeline builds (none today, but the contract is part of
    * the production path: Main wraps each build-materialize-write unit in
    * `CacheScope.using`, so added scoped ops free with the unit). */
  def run(in: Inputs)(implicit scope: CacheScope): DataFrame = {
    import ColumnOps._
    val ord = DedupOps.OrdinalCol

    // --- derived fields (ref 238-254) -----------------------------------
    var df = in.pua
    def es(c: String): Column = ensureString(col(c)) // astype("string").strip

    df = df
      .withColumn("TS COA", es("TS COA"))
      .withColumn("TS ORG", es("TS ORG"))
      .withColumn("TS-Org Code", dashConcat(col("TS COA"), col("TS ORG")))
      // strip_decimal_str = astype(str) → null becomes "nan" (H2)
      .withColumn("DEPT Code", stripDecimalStr(castStrNanNull(col("DEPT Code"))))
      .withColumn("TS-Org Department Code",
                  dashConcat(col("TS COA"), col("DEPT Code")))
      .withColumn("Department Name", es("Department Name"))
      .withColumn("E-Class", castStrNanNull(col("ECLS DESC")))
      .withColumn("Year", es("Year"))
      .withColumn("Pay ID", es("Pay ID"))
      .withColumn("Pay #", es("Pay #"))
      .withColumn("Seq #", es("Seq #"))
      .withColumn("Pay Event",
                  concatAll(col("Year"), col("Pay ID"), col("Pay #"), col("Seq #")))
      .withColumn("POSN", stripDecimalStr(castStrNanNull(col("POSN"))))
      .withColumn("SUFF", stripDecimalStr(castStrNanNull(col("SUFF"))))
      .withColumn("Job Number", dashConcat(col("POSN"), col("SUFF")))
      .withColumn("College Code", es("College Code"))
      .withColumn("College Name", es("College Name"))
      .withColumn("College", dashConcat(col("College Code"), col("College Name")))

    // --- alias-tolerant ADJ rename (ref 256-261) ------------------------
    df = ReshapeOps.renameIfExists(df, AdjAliases)

    // --- J1 org lookup (ref 263-264) ------------------------------------
    val org = JoinOps.prepareLookup(in.tsOrg, Seq("TS-Org Code", "TS-Org Title"))
    df = JoinOps.leftJoin(df, org, Seq("TS-Org Code"))

    // --- J2 dept lookup, both keys kept (ref 266-272) -------------------
    val dept = JoinOps.prepareLookup(in.tsDept,
      Seq("TS-Org Dept Code", "TS-Org Dept Title"))
    df = JoinOps.leftJoinExpr(df, dept,
      df("TS-Org Department Code") === dept("TS-Org Dept Code"))
    // D9 — dept-title fallback (ref 273-274)
    df = df.withColumn("TS-Org Dept Title",
      fillFrom(col("TS-Org Dept Title"), col("Department Name")))

    // --- J3 overtime lookup, right key dropped (ref 276-279) ------------
    val ot = JoinOps.prepareLookup(in.overtime, Seq("Job Eclass", "Overtime FLSA"))
    df = JoinOps.leftJoinExpr(df, ot, df("ECLS") === ot("Job Eclass"))
      .withColumnRenamed("Overtime FLSA", "Overtime")
      .drop("Job Eclass")

    // --- G1 + D10 Time Entry fill (ref 282-299) -------------------------
    // te_map = mode of Time Entry Method per trimmed TE M (ties → smallest)
    val te = in.teM
      .filter(col("TE M").isNotNull && col("Time Entry Method").isNotNull)
      .select(castStrNanNull(col("TE M")).as("TE M"),
              castStrNanNull(col("Time Entry Method")).as("Time Entry Method"))
    val teMap = AggOps.modeDeterministic(te, "TE M", "Time Entry Method")
      .withColumnRenamed("TE M", "_te_key")
      .withColumnRenamed("Time Entry Method", "_te_mapped")

    df = df.withColumn("TE M", castStrNanNull(col("TE M"))) // astype(str)
    if (!df.columns.contains("Time Entry"))
      df = df.withColumn("Time Entry", lit(null).cast(StringType))
    df = JoinOps.leftJoinExpr(df, broadcast(teMap),
        df("TE M") === teMap("_te_key"))
      .withColumn("Time Entry", keepOrFill(col("Time Entry"), col("_te_mapped")))
      .drop("_te_key", "_te_mapped")

    // --- P1 projection (ref 301-312) ------------------------------------
    val keep = SourceFields.filter(df.columns.contains) :+ ord
    df = df.select(keep.map(col): _*)

    // --- U2 keep-first dedup (ref 314-317) ------------------------------
    df = DedupOps.dedupKeepFirst(df, Seq("UIN", "Pay Event", "Job Number"))

    // --- D15 retype + D11 ADJ default (ref 319-328) ---------------------
    df = retypeAllString(df, "Calc Date", Set(ord))
    if (df.columns.contains("ADJ Reason Code")) {
      // materialize the mask BEFORE overwriting the code column — the DESC
      // update uses the same mask over the ORIGINAL value (ref 325-328)
      df = df.withColumn("_adj_missing", isMissingMarker(col("ADJ Reason Code")))
        .withColumn("ADJ Reason Code",
          when(col("_adj_missing"), lit("INT")).otherwise(col("ADJ Reason Code")))
      if (df.columns.contains("ADJ Reason DESC"))
        df = df.withColumn("ADJ Reason DESC",
          when(col("_adj_missing"), lit("Internal")).otherwise(col("ADJ Reason DESC")))
      df = df.drop("_adj_missing")
    }

    // --- P4 reshape (ref 330-368) + D15 + P3 final rename (370-380) -----
    // (reshapeToSpec semantics, inlined so the ingest ordinal rides along)
    var out = df.select((ColMap.map { case (o, s) =>
      (if (df.columns.contains(s)) col(s) else lit(null).cast(StringType)).as(o)
    } :+ col(ord)): _*)
    out = retypeAllString(out, "Calc Date", Set(ord))
    out = out
      .withColumnRenamed("TS Org", "TS ORG")
      .withColumnRenamed("Adjustment Reason", "Adjustment Reason Description")
    out
  }
}
