package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.app.Main
import graft.io.Xlsx
import graft.pipeline.PayrollFixtures

class PayrollDropSpec extends AnyFunSuite with SparkFixture {

  private def files(root: Path): Map[String, Array[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p)).toMap
    finally s.close()
  }

  test("the same seed generates byte-identical inputs; another seed reorders them") {
    val a = PayrollDrop.generate(Files.createTempDirectory("drop_a"), 40, 7L)
    val b = PayrollDrop.generate(Files.createTempDirectory("drop_b"), 40, 7L)
    val c = PayrollDrop.generate(Files.createTempDirectory("drop_c"), 40, 8L)
    val (fa, fb, fc) = (files(a.root), files(b.root), files(c.root))
    assert(fa.keySet == fb.keySet && fa.keySet.size == 8)
    fa.foreach { case (k, v) => assert(java.util.Arrays.equals(v, fb(k)), k) }
    assert(!java.util.Arrays.equals(fa("lookups/TE_M.csv"), fc("lookups/TE_M.csv")))
    assert(a.puaRows == 40 * PayrollFixtures.PuaRows.size)
  }

  test("interleaving keeps each copy's own row order") {
    val order = PayrollDrop.interleave(copies = 5, perCopy = 4, seed = 3L).toSeq
    assert(order.size == 20)
    order.groupBy(_._1).foreach { case (_, rows) => assert(rows.map(_._2) == (0 until 4)) }
    assert(order.map(_._1) != order.map(_._1).sorted) // copies really interleave
  }

  test("a real drop matches the tiled golden, and a one-cell mutation is caught") {
    val in = PayrollDrop.generate(Files.createTempDirectory("drop_e2e"), 6, 11L)
    val out = Files.createTempDirectory("drop_out")
    val written = Console.withOut(System.err)(
      Main.run(spark, new graft.storage.LocalFsStorage, in.inputDir.toString,
        in.lookupDir.toString, out.toString, PayrollFixtures.FixedClock))
    def bytes(p: String, ext: String) =
      Files.readAllBytes(Path.of(written.find(w => w.contains(p) && w.endsWith(ext)).get))
    val golden = PayrollDrop.goldenLines(repoRoot, "pua_output.csv")
    val csv = bytes("PUA", ".csv"); val xlsx = bytes("PUA", ".xlsx")
    assert(PayrollDrop.checkPair("PUA", golden, 6, csv, xlsx).isEmpty)
    assert(PayrollDrop.checkPair("CPA", PayrollDrop.goldenLines(repoRoot, "cpa_output.csv"), 6,
      bytes("CPA", ".csv"), bytes("CPA", ".xlsx")).isEmpty)

    // one cell of the CSV: "Web Time" → "Web Tima" on one row
    val text = new String(csv, UTF_8)
    val at = text.indexOf("Web Time")
    val mutatedCsv = (text.substring(0, at) + "Web Tima" + text.substring(at + 8)).getBytes(UTF_8)
    assert(PayrollDrop.checkPair("PUA", golden, 6, mutatedCsv, xlsx).exists(_.startsWith("PUA csv")))

    // one cell of the XLSX, rewritten through the same codec
    val (h, rows) = Xlsx.readTable(xlsx)
    val mutatedRows = rows.updated(2, rows(2).updated(5, Some("mutated")))
    val mutatedXlsx = Xlsx.write(h, mutatedRows)
    assert(PayrollDrop.checkPair("PUA", golden, 6, csv, mutatedXlsx).exists(_.startsWith("PUA xlsx")))
  }

  test("the tiled golden relabels only the leading UIN") {
    val (header, lines) = PayrollDrop.expectedLines(Seq("UIN,X", "u1,u2", "u3,b", ""), 2)
    assert(header == "UIN,X")
    assert(lines == Seq("u0_1,u2", "u0_3,b", "u1_1,u2", "u1_3,b"))
  }
}
