package graft.pipeline

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.io.TableIo
import graft.pipeline.PayrollFixtures._

/** Byte-compares the fixture pipelines' CSV output against checked-in
  * goldens (SURVEY.md §5.2.3) — catches silent drift in row order, column
  * order, quoting, timestamp rendering, or null conventions. Regenerate
  * intentionally with `sbt "runMain graft.tools.GenGolden"`. */
class PipelineGoldenSpec extends SparkSpec {

  private def golden(name: String): Array[Byte] =
    Files.readAllBytes(Paths.get(s"src/test/resources/golden/$name"))

  test("PUA pipeline output bytes match the golden CSV") {
    val out = PuaPipeline.run(PuaPipeline.Inputs(
      df(spark, PuaColumns, PuaRows), df(spark, TsOrgColumns, TsOrgRows),
      df(spark, TsDeptColumns, TsDeptRows),
      df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)))
    assert(TableIo.csvBytes(out).sameElements(golden("pua_output.csv")))
  }

  test("PUA golden holds under a non-UTC session time zone") {
    // try_to_timestamp parses in the session zone, so the sink must render
    // in it too: `2025-01-15` stays a date-only midnight, not 06:00:00 UTC
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "America/Chicago")
    try {
      // built after the switch: analysis binds the zone into the plan
      val out = PuaPipeline.run(PuaPipeline.Inputs(
        df(spark, PuaColumns, PuaRows), df(spark, TsOrgColumns, TsOrgRows),
        df(spark, TsDeptColumns, TsDeptRows),
        df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)))
      assert(TableIo.csvBytes(out).sameElements(golden("pua_output.csv")))
    } finally spark.conf.set(key, saved)
  }

  test("CPA pipeline output bytes match the golden CSV") {
    val out = CpaPipeline.run(CpaPipeline.Inputs(
      df(spark, CertColumns, CertBwRows), df(spark, CertColumns, CertMnRows),
      df(spark, TsOrgColumns, TsOrgRows), df(spark, TsDeptColumns, TsDeptRows),
      df(spark, OvertimeColumns, OvertimeRows), df(spark, TeMColumns, TeMRows)),
      FixedClock)
    assert(TableIo.csvBytes(out).sameElements(golden("cpa_output.csv")))
  }
}
