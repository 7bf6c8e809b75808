package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The query-library workloads: one pass runs every query of the list
  * once, materializing each result through Spark's `noop` sink so no
  * projected column is pruned (a `count()` would let Catalyst drop them).
  *
  * After the timed write, a checked pass runs one more job per query for
  * its row count and order-independent content hash (the sum of
  * `xxhash64` over all columns, doubles rounded to 6 decimals so the
  * last-ulp order of a floating sum cannot flip it). */
object QueryPass {

  val Repertoire: Seq[String] = Seq(
    "q01_scan_project", "q02_filter_contains", "q03_filter_regex",
    "q04_filter_in", "q05_filter_tsrange", "q06_filter_eq", "q07_concat_null",
    "q08_strip_decimal", "q09_prefix_substr", "q10_split_dash", "q11_ts_parse",
    "q12_missing_default", "q13_join_lookup", "q14_join_composite",
    "q15_union_by_name", "q16_dedup_keepfirst", "q17_distinct",
    "q18_mode_tiebreak", "q19_minmax_count", "q20_reshape_spec",
    "q21_join_coalesce", "q22_pua_pipeline", "q23_cpa_pipeline",
    "x162_pua_datecell_xlsx")

  /** One query of each data-bound family, each reported as its own layer. */
  val Families: Seq[(String, String)] = Seq(
    "setsim" -> "q111_setsim_join", "minhash" -> "x78_minhash_error",
    "cluster" -> "x102_golden_record", "graph" -> "x171_graph_longrange",
    "spans" -> "x150_short_spans", "rfm" -> "x114_rfm_segments")

  val Heavy: Seq[String] = Families.map(_._2)

  final case class Checksum(rows: Long, hash: BigDecimal)

  /** `sum` is the result's checksum when the pass was checked. */
  final case class QueryRun(name: String, buildS: Double, execS: Double,
                            sum: Option[Checksum], analysisNs: Long) {
    def wallS: Double = buildS + execS
  }

  /** Doubles and floats rounded, recursively through arrays and structs;
    * maps rendered as JSON (xxhash64 rejects map types). */
  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => transform(c, x => normalize(x, et))
    case st: StructType =>
      when(c.isNull, lit(null)).otherwise(
        struct(st.fields.toIndexedSeq.map(f => normalize(c.getField(f.name), f.dataType).as(f.name)): _*))
    case _: MapType => to_json(c)
    case _ => c
  }

  def checksumColumns(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toIndexedSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    Seq(count(lit(1)).as("rows"),
        coalesce(sum(xxhash64(cols: _*).cast(DecimalType(38, 0))), lit(BigDecimal(0))).as("hash"))
  }

  def checksum(df: DataFrame): Checksum = {
    val cs = checksumColumns(df)
    val r = df.agg(cs.head, cs.tail: _*).head()
    Checksum(r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Runs one query under its job tags: build (the query function, with
    * any eager work it does) and the noop write are timed; the checksum,
    * when asked for, is a job of its own after them, tagged `/check`. */
  def runOne(spark: SparkSession, name: String, tablesDir: String, check: Boolean): QueryRun = {
    val fn = SparkEntry.queries(name)
    val sc = spark.sparkContext
    def tag(phase: String): Unit = { sc.clearJobTags(); sc.addJobTag(Trace.TagPrefix + name + phase) }
    tag("/build")
    val t0 = System.nanoTime()
    val df = fn(spark, tablesDir)
    val t1 = System.nanoTime()
    val analysisNs = df.queryExecution.tracker.phases.get("analysis")
      .map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)
    tag("/exec")
    val t2 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    val t3 = System.nanoTime()
    val sum = if (check) { tag(CheckTag); Some(checksum(df)) } else None
    sc.clearJobTags()
    spark.catalog.clearCache() // one query's caches are not the next one's
    QueryRun(name, (t1 - t0) / 1e9, (t3 - t2) / 1e9, sum, analysisNs)
  }

  /** Job-tag suffix of the checksum jobs, which the layer metrics leave out. */
  val CheckTag = "/check"

  /** Expected checksums: `name<TAB>rows<TAB>hash` lines, `#` comments. */
  def readExpected(path: Path): Map[String, Checksum] =
    new String(Files.readAllBytes(path), UTF_8).split("\n").iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, r, h) = l.split("\t")
        n -> Checksum(r.toLong, BigDecimal(h))
      }.toMap

  def formatExpected(runs: Seq[QueryRun]): String =
    runs.sortBy(_.name).flatMap(r => r.sum.map(c => s"${r.name}\t${c.rows}\t${c.hash}"))
      .mkString("", "\n", "\n")

  /** Mismatches of a checked pass against the expectations. */
  def check(runs: Seq[QueryRun], expected: Map[String, Checksum]): Seq[String] =
    runs.flatMap { r =>
      (r.sum, expected.get(r.name)) match {
        case (None, _) => Some(s"${r.name}: not checked")
        case (_, None) => Some(s"${r.name}: no expectation recorded")
        case (Some(c), Some(e)) if e != c =>
          Some(s"${r.name}: rows ${c.rows} hash ${c.hash}, expected rows ${e.rows} hash ${e.hash}")
        case _ => None
      }
    }
}
