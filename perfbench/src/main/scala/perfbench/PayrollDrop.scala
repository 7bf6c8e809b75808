package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import graft.io.Xlsx
import graft.pipeline.PayrollFixtures._

/** A synthetic monthly payroll drop: the `PayrollFixtures` hazard rows
  * tiled `copies` times. Copy r relabels every UIN `u…` as `u{r}_…` (PUA,
  * both certification extracts, and TE_M's `UIN Job`), so copies never
  * share a dedup key, a join key or a certification job. The seed
  * interleaves the copies row by row while keeping each copy's own row
  * order, so keep-first dedup picks the same winner in every copy.
  *
  * With this construction the drop's outputs are exactly the golden
  * fixture outputs tiled the same way ([[expectedLines]]), which is what
  * the correctness check compares against. */
object PayrollDrop {

  val PuaFile = "Monthly PUA Extract.xlsx"

  def relabel(uin: String, copy: Int): String =
    if (uin.startsWith("u")) s"u${copy}_" + uin.substring(1) else uin

  private def relabelCol(rows: Seq[Seq[Option[String]]], col: Int,
                         copy: Int): Seq[Seq[Option[String]]] =
    rows.map(r => r.updated(col, r(col).map(relabel(_, copy))))

  /** Row order of `copies` interleaved copies of a `perCopy`-row table:
    * (copy, row-within-copy) pairs, each copy's rows in their own order. */
  def interleave(copies: Int, perCopy: Int, seed: Long): Iterator[(Int, Int)] = {
    val owner = Array.tabulate(copies * perCopy)(_ / perCopy)
    val rnd = new java.util.Random(seed)
    var i = owner.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = owner(i); owner(i) = owner(j); owner(j) = t
      i -= 1
    }
    val next = new Array[Int](copies)
    owner.iterator.map { c => val r = next(c); next(c) += 1; (c, r) }
  }

  def tile(columns: Seq[String], rows: Seq[Seq[Option[String]]], uinCol: String,
           copies: Int, seed: Long): Seq[Seq[Option[String]]] = {
    val col = columns.indexOf(uinCol)
    val perCopy = (0 until copies).map(c => relabelCol(rows, col, c))
    interleave(copies, rows.size, seed).map { case (c, r) => perCopy(c)(r) }.toSeq
  }

  def csvCell(v: Option[String]): String = v.map { s =>
    if (s.exists(c => c == ',' || c == '"' || c == '\n'))
      "\"" + s.replace("\"", "\"\"") + "\""
    else s
  }.getOrElse("")

  def csvBytes(columns: Seq[String], rows: Seq[Seq[Option[String]]]): Array[Byte] = {
    val sb = new StringBuilder
    sb.append(columns.map(c => csvCell(Some(c))).mkString(",")).append('\n')
    rows.foreach(r => sb.append(r.map(csvCell).mkString(",")).append('\n'))
    sb.toString.getBytes(UTF_8)
  }

  final case class Inputs(root: Path, copies: Int, puaRows: Long, certRows: Long) {
    def inputDir: Path = root.resolve("inputs")
    def lookupDir: Path = root.resolve("lookups")
    /** PUA + BW + MN rows: the drop's primary input rows. */
    def inputRows: Long = puaRows + certRows
  }

  /** Writes the drop under `root` (inputs/ and lookups/, the layout
    * `graft.app.Main` discovers). Same (copies, seed) ⇒ byte-identical
    * files. */
  def generate(root: Path, copies: Int, seed: Long): Inputs = {
    val in = root.resolve("inputs"); val lk = root.resolve("lookups")
    Files.createDirectories(in); Files.createDirectories(lk)
    // one independent interleaving per file, all derived from the seed
    val seeds = new java.util.Random(seed)
    val pua = tile(PuaColumns, PuaRows, "UIN", copies, seeds.nextLong())
    val bw = tile(CertColumns, CertBwRows, "UIN", copies, seeds.nextLong())
    val mn = tile(CertColumns, CertMnRows, "UIN", copies, seeds.nextLong())
    val teM = tile(TeMColumns, TeMRows, "UIN Job", copies, seeds.nextLong())
    Files.write(in.resolve(PuaFile), pinZipTimes(Xlsx.write(PuaColumns, pua)))
    Files.write(lk.resolve("TS_Org.csv"), csvBytes(TsOrgColumns, TsOrgRows))
    Files.write(lk.resolve("TS_Dept.csv"), csvBytes(TsDeptColumns, TsDeptRows))
    Files.write(lk.resolve("Overtime_E_Class.csv"), csvBytes(OvertimeColumns, OvertimeRows))
    Files.write(lk.resolve("TE_M.csv"), csvBytes(TeMColumns, teM))
    Files.write(lk.resolve("Feeder_List.csv"), "col1\nv1\n".getBytes(UTF_8))
    Files.write(lk.resolve("Cert BW extract.csv"), csvBytes(CertColumns, bw))
    Files.write(lk.resolve("Cert MN extract.csv"), csvBytes(CertColumns, mn))
    Inputs(root, copies, pua.size.toLong, (bw.size + mn.size).toLong)
  }

  /** The same workbook with every zip entry's timestamp pinned, so a
    * generated input does not depend on the wall clock. */
  def pinZipTimes(zip: Array[Byte]): Array[Byte] = {
    import java.util.zip.{ZipEntry, ZipInputStream, ZipOutputStream}
    val in = new ZipInputStream(new java.io.ByteArrayInputStream(zip))
    val buf = new java.io.ByteArrayOutputStream(zip.length)
    val out = new ZipOutputStream(buf)
    try {
      var e = in.getNextEntry
      while (e != null) {
        val pinned = new ZipEntry(e.getName)
        pinned.setTime(0L)
        out.putNextEntry(pinned)
        in.transferTo(out)
        out.closeEntry()
        e = in.getNextEntry
      }
    } finally { out.close(); in.close() }
    buf.toByteArray
  }

  /** The expected output of one pipeline: the golden CSV's header, and its
    * data lines tiled `copies` times with the UIN (first field) relabelled. */
  def expectedLines(golden: Seq[String], copies: Int): (String, Seq[String]) = {
    val data = golden.tail.filter(_.nonEmpty)
    val tiled = for (c <- 0 until copies; l <- data) yield {
      val comma = l.indexOf(',')
      relabel(l.substring(0, comma), c) + l.substring(comma)
    }
    (golden.head, tiled)
  }

  /** A golden fixture output of the repository (src/test/resources/golden). */
  def goldenLines(repoRoot: Path, name: String): Seq[String] =
    new String(Files.readAllBytes(
      repoRoot.resolve("src/test/resources/golden").resolve(name)), UTF_8).split("\n", -1).toSeq

  /** Multiset difference summary of two line collections, or None when
    * they hold the same lines the same number of times. */
  def multisetDiff(want: Seq[String], got: Seq[String]): Option[String] = {
    def counts(xs: Seq[String]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val w = counts(want); val g = counts(got)
    val missing = w.iterator.filter { case (k, n) => g.getOrElse(k, 0) < n }.map(_._1).take(2).toSeq
    val extra = g.iterator.filter { case (k, n) => w.getOrElse(k, 0) < n }.map(_._1).take(2).toSeq
    if (missing.isEmpty && extra.isEmpty) None
    else Some(s"${got.size} lines vs ${want.size} expected; missing e.g. " +
      s"${missing.mkString(" | ")}; unexpected e.g. ${extra.mkString(" | ")}")
  }

  /** RFC-4180 field split of one CSV line as the sinks write it: doubled
    * quotes inside quoted fields, a quoted empty field reads as "". */
  def splitCsvLine(line: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0; var quoted = false
    while (i < line.length) {
      val ch = line.charAt(i)
      if (quoted) {
        if (ch == '"' && i + 1 < line.length && line.charAt(i + 1) == '"') { cur += '"'; i += 1 }
        else if (ch == '"') quoted = false
        else cur += ch
      } else if (ch == '"') quoted = true
      else if (ch == ',') { out += cur.toString; cur.clear() }
      else cur += ch
      i += 1
    }
    out += cur.toString
    out.result()
  }

  /** Checks one pipeline's CSV + XLSX pair against the tiled golden;
    * returns the failures (empty when both are right). The XLSX must hold
    * the CSV's rows in the CSV's order; a timestamp cell the CSV renders
    * date-only (every value at midnight, pandas style) is compared on its
    * date. */
  def checkPair(pipeline: String, golden: Seq[String], copies: Int,
                csv: Array[Byte], xlsx: Array[Byte]): Seq[String] = {
    val (wantHeader, wantRows) = expectedLines(golden, copies)
    val lines = new String(csv, UTF_8).split("\n", -1).toSeq.filter(_.nonEmpty)
    val errs = Seq.newBuilder[String]
    if (lines.headOption.contains(wantHeader)) {
      multisetDiff(wantRows, lines.tail).foreach(d => errs += s"$pipeline csv: $d")
    } else errs += s"$pipeline csv: header ${lines.headOption.getOrElse("<none>")}"
    val (xh, xrows) = Xlsx.readTable(xlsx)
    val csvRows = lines.drop(1).map(splitCsvLine)
    if (xh != splitCsvLine(wantHeader)) errs += s"$pipeline xlsx: header ${xh.mkString(",")}"
    else if (xrows.size != csvRows.size)
      errs += s"$pipeline xlsx: ${xrows.size} rows, csv has ${csvRows.size}"
    else {
      val bad = xrows.iterator.zip(csvRows.iterator).indexWhere { case (x, c) =>
        x.size != c.size || x.zip(c).exists { case (xv, cv) =>
          val v = xv.getOrElse("")
          v != cv && !(v.endsWith(" 00:00:00") && v.stripSuffix(" 00:00:00") == cv)
        }
      }
      if (bad >= 0) errs += s"$pipeline xlsx: row $bad differs from the csv " +
        s"(${xrows(bad).map(_.getOrElse("")).mkString(",")} vs ${csvRows(bad).mkString(",")})"
    }
    errs.result()
  }
}
