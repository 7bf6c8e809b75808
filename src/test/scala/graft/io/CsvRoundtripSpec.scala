package graft.io

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.ops.DedupOps
import graft.storage.LocalFsStorage

class CsvRoundtripSpec extends SparkSpec {

  test("CSV sink quotes commas/quotes/newlines; Spark source reads them back") {
    import spark.implicits._
    val df = Seq(
      ("1", "plain", "x"),
      ("2", "has,comma", "y"),
      ("3", "has \"quotes\"", "z"),
      ("4", "has\nnewline", "w"),
      ("5", null, ""))
      .toDF("id", "tricky", "other")
      .withColumn("_ingest_ord", monotonically_increasing_id())
    val dir = Files.createTempDirectory("graft_csv").toString
    val storage = new LocalFsStorage
    val Seq(path, _) = TableIo.writeCsvXlsx(df, storage, dir, "t.csv", "t.xlsx")

    val back = spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"")
      .csv(path).orderBy("id").collect()
    assert(back.length == 5)
    assert(back(1).getString(1) == "has,comma")
    assert(back(2).getString(1) == "has \"quotes\"")
    assert(back(3).getString(1) == "has\nnewline")
    // null and empty string both render as empty field (pandas to_csv parity)
    assert(back(4).isNullAt(1) || back(4).getString(1).isEmpty)
  }

  test("csvBytes matches pandas to_csv: LF endings, date-only midnight column, quoted-empty NaT") {
    import spark.implicits._
    val df = Seq(
      ("a", Some(java.sql.Timestamp.valueOf("2024-07-01 00:00:00")),
            Some(java.sql.Timestamp.valueOf("2024-07-01 08:30:00"))),
      ("b", None,
            Some(java.sql.Timestamp.valueOf("2024-07-02 00:00:00"))))
      .toDF("k", "all_mid", "mixed")
      .withColumn("_ingest_ord", monotonically_increasing_id())
    val csv = new String(TableIo.csvBytes(df), "UTF-8")
    assert(!csv.contains("\r"), "pandas to_csv on Linux emits LF, not CRLF")
    val lines = csv.split("\n", -1).toSeq
    assert(lines(0) == "k,all_mid,mixed")
    // all_mid: every non-null value midnight → date-only; None → quoted empty
    // mixed: one non-midnight value → full seconds rendering for the column
    assert(lines(1) == "a,2024-07-01,2024-07-01 08:30:00")
    assert(lines(2) == "b,\"\",2024-07-02 00:00:00")
    assert(lines(3) == "") // trailing LF after last row
  }

  test("csvBytes quoting edge cases are byte-equal to pinned pandas 2.2.2 output") {
    import spark.implicits._
    // fixture generated with pandas 2.2.2 (the driver's oracle version):
    //   pd.DataFrame({...}).to_csv(buf, index=False)
    // covers: embedded comma, embedded+doubled quotes, embedded LF, bare CR
    // (pandas ships it UNQUOTED), leading zeros, padded spaces, fully-quoted
    // values, null vs empty string, unicode, decimal-looking strings
    val df = Seq(
      ("1", Option("has,comma"), "plain"),
      ("2", Option("has \"quotes\""), ""),
      ("3", Option("has\nnewline"), "a,b\"c\nd"),
      ("4", Option("has\rcr"), "tab\there"),
      ("5", Option("007"), "0.50"),
      ("6", Option("  padded  "), "unicode é»"),
      ("7", Option("\"wrapped\""), "end\""),
      ("8", None, "x"))
      .toDF("id", "tricky", "other")
      .withColumn("_ingest_ord", monotonically_increasing_id())
    val expected = "id,tricky,other\n" +
      "1,\"has,comma\",plain\n" +
      "2,\"has \"\"quotes\"\"\",\n" +
      "3,\"has\nnewline\",\"a,b\"\"c\nd\"\n" +
      "4,has\rcr,tab\there\n" +
      "5,007,0.50\n" +
      "6,  padded  ,unicode é»\n" +
      "7,\"\"\"wrapped\"\"\",\"end\"\"\"\n" +
      "8,,x\n"
    val got = new String(TableIo.csvBytes(df), "UTF-8")
    assert(got == expected,
      s"pandas byte parity broken:\n got=${got.replace("\n", "\\n").replace("\r", "\\r")}\n exp=${expected.replace("\n", "\\n").replace("\r", "\\r")}")
  }

  test("writeCsvXlsx: XLSX cells in ingest order, null and sub-second timestamps, unsupported type refused") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val df = Seq(
      ("b", Option(ts("2024-07-01 08:30:00.123456")), 2L),
      ("a", Option.empty[java.sql.Timestamp], 1L),
      ("c", Option(ts("2024-07-02 00:00:00")), 3L))
      .toDF("k", "at", "_ingest_ord")
    val storage = new LocalFsStorage
    val dir = Files.createTempDirectory("graft_sinks").toString
    val Seq(csvPath, xlsxPath) =
      TableIo.writeCsvXlsx(df, storage, dir, "t.csv", "t.xlsx")
    assert(new String(storage.readBytes(csvPath), "UTF-8") ==
      "k,at\na,\"\"\nb,2024-07-01 08:30:00.123456\nc,2024-07-02 00:00:00\n")
    val (h, rows) = Xlsx.readTable(storage.readBytes(xlsxPath))
    assert(h == Seq("k", "at"))
    // null → empty cell; fractional seconds truncated, as date_format did
    assert(rows == Seq(
      Seq(Some("a"), None),
      Seq(Some("b"), Some("2024-07-01 08:30:00")),
      Seq(Some("c"), Some("2024-07-02 00:00:00"))))

    val refused = Files.createTempDirectory("graft_sinks_bad")
    val err = intercept[IllegalArgumentException] {
      TableIo.writeCsvXlsx(df.withColumn("n", lit(1)), storage,
        refused.toString, "t.csv", "t.xlsx")
    }
    assert(err.getMessage.contains("'n'"), err.getMessage)
    assert(Files.list(refused).count() == 0, "a refused frame must write no file")
  }

  test("withIngestOrdinalFrom: contiguous 1-based ordinal in key order, no global window") {
    import spark.implicits._
    val df = (1 to 200).map(i => (s"k${300 - i}", i)).toDF("k", "v")
      .repartition(8)
    val withOrd = DedupOps.withIngestOrdinalFrom(df, Seq(col("k")))
    val rows = withOrd.orderBy("_ingest_ord").select("k", "_ingest_ord")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(_._2) == (1L to 200L))           // contiguous, 1-based
    assert(rows.map(_._1) == rows.map(_._1).sorted)  // follows key order
  }

  test("readParquetOrdered: ordinal stable across partitioning and re-reads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_pq").toString + "/t"
    // three files, values interleaved so file order ≠ value order
    (1 to 90).map(i => (i % 3, i)).toDF("part", "v")
      .repartition(3, col("part"))
      .write.parquet(dir)
    val read1 = TableIo.readParquetOrdered(spark, dir)
    assert(read1.columns.contains("_ingest_ord"))
    assert(read1.select("_ingest_ord").distinct().count() == 90)
    val order1 = read1.orderBy("_ingest_ord").select("v")
      .collect().map(_.getInt(0)).toSeq
    // a second read under different parallelism sees the identical order
    val order2 = TableIo.readParquetOrdered(spark, dir).repartition(7)
      .orderBy("_ingest_ord").select("v").collect().map(_.getInt(0)).toSeq
    assert(order1 == order2)
    // keep-first dedup over it is deterministic
    val d1 = DedupOps.dedupKeepFirst(read1, Seq("part"))
      .orderBy("part").select("v").collect().map(_.getInt(0)).toSeq
    val d2 = DedupOps.dedupKeepFirst(
        TableIo.readParquetOrdered(spark, dir).repartition(5), Seq("part"))
      .orderBy("part").select("v").collect().map(_.getInt(0)).toSeq
    assert(d1 == d2)
  }

  test("JSONL roundtrip: schema pinned, sharded write, newline/quote/unicode content survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_jsonl").toString + "/docs"
    val df = Seq(
      (1L, "plain text", "en"),
      (2L, "line\nbreak and \"quotes\" and\ttabs", "fr"),
      (3L, "unicode: café 中文 😀", "zh"))
      .toDF("doc_id", "text", "lang")
    TableIo.writeJsonl(df, dir, shards = Some(2))
    val parts = new java.io.File(dir).listFiles
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts.length === 2, "sharded layout should write one file per shard")
    val back = TableIo.readJsonl(spark, dir, Some(df.schema))
      .orderBy("doc_id")
      .as[(Long, String, String)].collect().toSeq
    assert(back === Seq(
      (1L, "plain text", "en"),
      (2L, "line\nbreak and \"quotes\" and\ttabs", "fr"),
      (3L, "unicode: café 中文 😀", "zh")))
  }

  test("all-string CSV source attaches the ingest ordinal in file order") {
    val dir = Files.createTempDirectory("graft_csv2")
    Files.write(dir.resolve("in.csv"),
      "A,B\n1,x\n2,y\n3,z\n".getBytes("UTF-8"))
    val df = TableIo.readCsv(spark, dir.resolve("in.csv").toString)
    assert(df.schema.fields.filter(_.name != "_ingest_ord")
      .forall(_.dataType == org.apache.spark.sql.types.StringType))
    val rows = df.orderBy("_ingest_ord").select("A").collect().map(_.getString(0))
    assert(rows.toSeq == Seq("1", "2", "3"))
  }
}
