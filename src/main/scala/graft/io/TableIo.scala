package graft.io

import java.time.{Instant, LocalTime, ZoneId}
import java.time.format.DateTimeFormatter
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}
import graft.ops.DedupOps
import graft.storage.StorageClient

/** Sources and sinks (SURVEY.md S4–S7).
  *
  * Ingest rule (SURVEY §1.3): every payroll column is read as StringType
  * (`inferSchema=false`) — this matches the reference's all-string output
  * and sidesteps the pandas float-artifact hazard H1. Every source attaches
  * the ingest ordinal `_ingest_ord` (H4) so keep-first dedup and
  * first-match selection stay deterministic after repartitioning.
  */
object TableIo {

  /** S5 — CSV source: header row, all columns string, headers trimmed on
    * request (P6 applies only to the CPA certs — ref 433-434). */
  def readCsv(spark: SparkSession, path: String,
              trimHeaders: Boolean = false): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("inferSchema", "false")
      .option("escape", "\"") // RFC-style doubled quotes (pandas default)
      .csv(path)
    val named = if (trimHeaders) graft.ops.ReshapeOps.trimHeaders(df) else df
    DedupOps.withIngestOrdinal(named)
  }

  /** Parquet source with a SCALE-SAFE ingest ordinal (H4): ordinal =
    * (file index in path-sorted order) ≪ 40 | row position in file, built
    * from the hidden `_metadata` columns — stable under any partitioning
    * or task count, unlike monotonically_increasing_id. The file list
    * comes from the read's own inputFiles (names only, no data job).
    * Files are assumed < 2^40 rows each. */
  def readParquetOrdered(spark: SparkSession, path: String): DataFrame = {
    val base = spark.read.parquet(path)
    // _metadata.file_path renders "file:/x" while inputFiles gives
    // "file:///x" — normalize both before joining
    val withMeta = base.select(col("*"),
      regexp_replace(col("_metadata.file_path"), "^file:/+", "file:/").as("_fp"),
      col("_metadata.row_index").as("_ri"))
    val files = base.inputFiles
      .map(_.replaceFirst("^file:/+", "file:/")).sorted.zipWithIndex.toSeq
    val fileIdx = broadcast(
      spark.createDataFrame(files).toDF("_fp", "_fidx"))
    // LEFT join + fail-loud: if _metadata.file_path and inputFiles ever
    // disagree beyond the normalized prefix (URI escaping, scheme/authority
    // rendering), rows must not be silently dropped — raise instead.
    withMeta.join(fileIdx, Seq("_fp"), "left")
      .withColumn(DedupOps.OrdinalCol,
        when(col("_fidx").isNotNull,
          (col("_fidx").cast("long") * lit(1L << 40)) + col("_ri"))
        .otherwise(raise_error(concat(
          lit("readParquetOrdered: _metadata.file_path not found in inputFiles after normalization: "),
          col("_fp")))))
      .drop("_fp", "_ri", "_fidx")
  }

  /** Large-data sink: a columnar layout partitioned by a
    * (low-cardinality, derived) column — e.g. event date — so
    * downstream range scans prune whole directories instead of
    * filtering rows. The 100 TB twin of the collect-and-write payroll
    * sinks below. `format` is any columnar source Spark ships
    * ("parquet" default, "orc" — both give the same PartitionFilters /
    * PushedFilters pruning surface, pinned by PlanShapeSpec b03/x172). */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       format: String = "parquet"): Unit =
    df.write.mode("overwrite").partitionBy(partitionCols: _*)
      .format(format).save(path)

  /** Global-total-order sharded export: the corpus written as `shards`
    * parquet files such that reading them in file order replays one
    * deterministic global sort — the layout a training run consumes when
    * data ORDER is part of the recipe (curriculum schedules, x35-style
    * reproducible shuffles). `repartitionByRange` samples range bounds so
    * every shard is a contiguous slice of the sort order (shard i's rows
    * all precede shard i+1's) and `sortWithinPartitions` orders each
    * slice locally — N parallel bounded sorts, never a single-task global
    * sort. Part-file names are zero-padded, so lexicographic file order
    * IS the data order. Ties across shard boundaries are only
    * deterministic when `sortCols` is a total order — same contract as
    * any window the engine exposes. */
  def writeRangeSorted(df: DataFrame, path: String, shards: Int,
                       sortCols: Seq[String]): Unit = {
    require(shards >= 1, "writeRangeSorted needs at least one shard")
    require(sortCols.nonEmpty, "writeRangeSorted needs sort columns")
    val cols = sortCols.map(col)
    df.repartitionByRange(shards, cols: _*)
      .sortWithinPartitions(cols: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** JSONL (one JSON object per line) source — the interchange format of
    * training-data pipelines. An explicit schema skips Spark's
    * inference pass (which reads the data twice) and pins types against
    * drift; without one, inference is accepted for exploration. Sharded
    * and splittable: a directory of .jsonl parts scans in parallel like
    * any file source. */
  def readJsonl(spark: SparkSession, path: String,
                schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val reader = spark.read
    schema.fold(reader)(s => reader.schema(s)).json(path)
  }

  /** JSONL sink: one object per line, sharded by partition (a 100 TB
    * corpus writes N files in parallel — never a single driver-side
    * file). `shards` repartitions when the caller wants a fixed output
    * layout (e.g. one shard per downstream loader worker). */
  def writeJsonl(df: DataFrame, path: String,
                 shards: Option[Int] = None): Unit = {
    val out = shards.fold(df)(n => df.repartition(n))
    out.write.mode("overwrite").json(path)
  }

  /** SCHEMA-EVOLUTION READ beyond added columns: unify N generations of
    * a long-lived table whose column TYPES drifted (gen 1 wrote
    * l_quantity as int/float, gen 2 as long/double — the other drift
    * every warehouse table hits; plain `mergeSchema` refuses the read
    * with a merge conflict). Each generation is read with its own
    * schema, every column casts to the WIDEST type any generation
    * declares, and the frames union by name (a column missing from a
    * generation null-fills — the x175 semantic).
    *
    * Widening is LOSSLESS-ONLY, fail-loud otherwise (the narrowing
    * guard): integral↑integral (byte→short→int→long), fractional↑
    * fractional (float→double), byte/short/int↔float/double → double
    * (every such value embeds in a double exactly), equal-type pass-
    * through, and decimal precision/scale union bounded by the decimal
    * range. long↔fractional (a 2⁶³ long does not fit a double's 53-bit
    * mantissa), string↔numeric, date↔timestamp, and any nested-type
    * mismatch REFUSE with the column name and both types — a silent
    * best-effort cast is exactly the drift this reader exists to stop.
    *
    * Scale shape: one file-source scan per generation (pushdown/pruning
    * intact per scan), casts are map-side projections, unionByName adds
    * no exchange — the union's children stay independent scans. */
  def readUnified(spark: SparkSession, paths: Seq[String],
                  format: String = "parquet"): DataFrame = {
    import org.apache.spark.sql.types._
    require(paths.nonEmpty, "readUnified needs at least one generation")
    val gens = paths.map(p => spark.read.format(format).load(p))
    val integral: Seq[DataType] =
      Seq(ByteType, ShortType, IntegerType, LongType)
    val fractional: Seq[DataType] = Seq(FloatType, DoubleType)
    val smallIntegral = integral.dropRight(1) // byte/short/int: exact in double
    def widen(name: String, a: DataType, b: DataType): DataType =
      (a, b) match {
        case _ if a == b => a
        case (x: DecimalType, y: DecimalType) =>
          val s = math.max(x.scale, y.scale)
          val i = math.max(x.precision - x.scale, y.precision - y.scale)
          require(i + s <= DecimalType.MAX_PRECISION,
            s"column '$name': unified decimal($i + $s) exceeds the " +
              s"decimal range — ${x.simpleString} vs ${y.simpleString}")
          DecimalType(i + s, s)
        case _ if integral.contains(a) && integral.contains(b) =>
          if (integral.indexOf(a) >= integral.indexOf(b)) a else b
        case _ if fractional.contains(a) && fractional.contains(b) =>
          if (fractional.indexOf(a) >= fractional.indexOf(b)) a else b
        case _ if (smallIntegral.contains(a) && fractional.contains(b)) ||
                  (fractional.contains(a) && smallIntegral.contains(b)) =>
          DoubleType
        case _ => throw new IllegalArgumentException(
          s"column '$name': no lossless widening between " +
            s"${a.simpleString} and ${b.simpleString} — long↔fractional " +
            "drops mantissa bits and cross-family retypes change " +
            "semantics; fix the writing pipeline or cast explicitly " +
            "per generation")
      }
    val order = scala.collection.mutable.LinkedHashMap.empty[String, DataType]
    for (g <- gens; f <- g.schema.fields)
      order(f.name) = order.get(f.name)
        .map(widen(f.name, _, f.dataType)).getOrElse(f.dataType)
    gens.map { g =>
      val present = g.columns.toSet
      g.select(order.toSeq.map { case (n, t) =>
        (if (present(n)) col(n).cast(t) else lit(null).cast(t)).as(n)
      }: _*)
    }.reduce(_ unionByName _)
  }

  /** ORC source — Spark's second built-in columnar format (orc-core
    * ships with Spark; no extra dependency). Same distributed scan
    * surface as parquet: pushed filters, pruned columns, split files.
    * Fidelity is oracle-proven by x169 (a fact-table roundtrip audited
    * value-exact against the parquet original). */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** S4 — Excel source via the hand-rolled codecs: header row 0, all
    * values string (date-styled cells resolve to ISO strings through
    * the style table — [[ExcelDates]]). `sheetName = None` reads the
    * first sheet (the pandas `read_excel` default); `Some(name)` is the
    * `sheet_name=` analog on both formats. Driver-side parse (payroll
    * workbooks are small by contract — the distributed path is
    * CSV/parquet). Dispatches on the CONTENT's magic bytes, not the
    * extension: an OLE2 container reads through the BIFF8 [[Xls]]
    * reader, a zip through [[Xlsx]] — the reference's detection filter
    * accepts both extensions (etl_payroll_pipeline.py:69,74), and
    * mislabeled files are common. */
  def readXlsx(spark: SparkSession, storage: StorageClient,
               path: String, sheetName: Option[String] = None): DataFrame = {
    val bytes = storage.readBytes(path)
    val (header, rows) =
      if (Xls.isOle2(bytes)) Xls.readTable(bytes, sheetName)
      else Xlsx.readTable(bytes, sheetName)
    val schema = StructType(header.map(c => StructField(c, StringType, nullable = true)) :+
      StructField(DedupOps.OrdinalCol, org.apache.spark.sql.types.LongType, nullable = false))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.map(_.orNull) :+ i.toLong)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data.toSeq, 1), schema)
  }

  /** S6 + S7 — the payroll sinks (ref 396-417, 606-627): one CSV and one
    * XLSX per pipeline, both rendered from ONE execution of the
    * pipeline's plan ([[collectOrdered]]), ordered on the driver. Outputs
    * are small by contract (post-aggregation pipeline results), so the
    * bytes are assembled driver-side and written through the
    * StorageClient — the collect-and-write path the survey documents;
    * large results would use df.write. Both files are rendered before
    * either is written. Returns the two paths, CSV first. */
  def writeCsvXlsx(df: DataFrame, storage: StorageClient, folder: String,
                   csvName: String, xlsxName: String): Seq[String] = {
    val t = collectOrdered(df)
    val csv = renderCsv(t)
    val xlsx = Xlsx.write(t.fields.map(_.name), xlsxRows(t))
    Seq(storage.writeBytes(folder, csvName, csv),
      storage.writeBytes(folder, xlsxName, xlsx))
  }

  /** CSV bytes matching pandas `to_csv` byte-for-byte (verified against
    * pandas 2.2 semantics): LF line endings on every line; a datetime
    * column whose non-null values are all midnight renders date-only
    * (`2024-07-01`), otherwise `yyyy-MM-dd HH:mm:ss[.ffffff]`; a null in a
    * datetime column (NaT) renders as a QUOTED empty field (`""`), while a
    * null in any other column renders as an unquoted empty field.
    * Timestamps render in the session time zone, the zone
    * `try_to_timestamp` parsed them in. */
  def csvBytes(df: DataFrame): Array[Byte] = renderCsv(collectOrdered(df))

  /** A sink frame on the driver: data fields and rows in ingest order,
    * plus the session time zone its timestamps render in. */
  private final case class Collected(fields: IndexedSeq[StructField],
                                     rows: Array[Row], zone: ZoneId)

  /** The one Spark execution behind every sink: collect the frame as-is
    * and order the rows by `_ingest_ord` here. The rows land on the
    * driver anyway, so a Spark global sort (a range-sampling job plus an
    * exchange) would buy nothing. The ordinal itself is dropped. */
  private def collectOrdered(df: DataFrame): Collected = {
    val zone = ZoneId.of(
      df.sparkSession.conf.get("spark.sql.session.timeZone"), ZoneId.SHORT_IDS)
    val fields = df.schema.fields.toIndexedSeq
    val rows = df.collect() // small-by-contract sink (post-aggregation)
    val ord = fields.indexWhere(_.name == DedupOps.OrdinalCol)
    if (ord < 0) Collected(fields, rows, zone)
    else {
      val keep = fields.indices.filter(_ != ord)
      val sorted = rows.sortBy(_.getLong(ord))
      Collected(keep.map(fields), sorted.map(r => Row.fromSeq(keep.map(r.get))), zone)
    }
  }

  private def instantAt(r: Row, i: Int): Instant = r.get(i) match {
    case t: java.sql.Timestamp => t.toInstant
    case t: Instant            => t
    case other => throw new IllegalStateException(s"not a timestamp: $other")
  }

  private def renderCsv(t: Collected): Array[Byte] = {
    val Collected(fields, rows, zone) = t
    val isTs = fields.map(_.dataType == TimestampType)
    // pandas renders a datetime column date-only iff every non-null value
    // is exactly midnight (DatetimeIndex "dates only" formatting)
    val dateOnly = fields.indices.map { i =>
      isTs(i) && rows.forall { r =>
        r.isNullAt(i) || instantAt(r, i).atZone(zone).toLocalTime == LocalTime.MIDNIGHT
      }
    }
    val fmtDate = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(zone)
    val fmtSec = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(zone)
    val fmtMicro = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(zone)
    def cell(r: Row, i: Int): String =
      if (isTs(i)) {
        if (r.isNullAt(i)) "\"\"" // NaT → quoted empty field
        else {
          val t = instantAt(r, i)
          if (dateOnly(i)) fmtDate.format(t)
          else if (t.getNano == 0) fmtSec.format(t)
          else fmtMicro.format(t)
        }
      } else if (r.isNullAt(i)) ""
      else csvQuote(r.get(i).toString)
    val sb = new StringBuilder
    sb.append(fields.map(f => csvQuote(f.name)).mkString(",")).append("\n")
    rows.foreach { r =>
      sb.append(fields.indices.map(cell(r, _)).mkString(",")).append("\n")
    }
    sb.toString.getBytes("UTF-8")
  }

  /** XLSX cells: timestamps `yyyy-MM-dd HH:mm:ss` in the session time zone
    * with fractional seconds truncated, strings as-is, nulls empty. No
    * pipeline emits another type, so any other column is refused by name
    * rather than rendered some new way. */
  private def xlsxRows(t: Collected): Seq[Seq[Option[String]]] = {
    val fmtSec = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(t.zone)
    val render: IndexedSeq[(Row, Int) => String] = t.fields.map { f =>
      f.dataType match {
        case TimestampType => (r: Row, i: Int) => fmtSec.format(instantAt(r, i))
        case StringType => (r: Row, i: Int) => r.getString(i)
        case other => throw new IllegalArgumentException(
          s"XLSX sink: column '${f.name}' has type ${other.simpleString}; " +
            "only string and timestamp columns are written")
      }
    }
    t.rows.toSeq.map(r => t.fields.indices.map(i =>
      if (r.isNullAt(i)) None else Some(render(i)(r, i))))
  }

  // pandas' C writer (lineterminator '\n', QUOTE_MINIMAL) quotes a field
  // only when it contains the delimiter, the quote char, or the line
  // terminator — a bare '\r' ships UNQUOTED (verified against pandas 2.2.2,
  // pinned byte-for-byte in CsvRoundtripSpec). Do not "fix" this to quote
  // '\r': byte parity with the reference's to_csv output is the contract.
  private def csvQuote(s: String): String =
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
}
