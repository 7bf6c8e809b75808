package perfbench

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

class QueryPassSpec extends AnyFunSuite with SparkFixture {

  private def checksum(df: org.apache.spark.sql.DataFrame) = QueryPass.checksum(df)

  test("the content hash ignores row order and partitioning but not content") {
    val base = spark.range(0, 500).select(col("id"), (col("id") * 0.1).as("d"),
      array(col("id").cast("double"), lit(1.5)).as("arr"),
      struct(col("id").as("k"), lit("x").as("s")).as("st"))
    val a = checksum(base)
    val b = checksum(base.orderBy(col("id").desc).repartition(7))
    assert(a == b && a.rows == 500)
    assert(checksum(base.withColumn("d", when(col("id") === 42, lit(9.9)).otherwise(col("d")))) != a)
  }

  test("a changed hash or row count fails the check; a match passes") {
    val want = Map("q" -> QueryPass.Checksum(10, BigDecimal(123)))
    def run(c: QueryPass.Checksum) = Seq(QueryPass.QueryRun("q", 0.1, 0.2, Some(c), 0L))
    assert(QueryPass.check(run(QueryPass.Checksum(10, BigDecimal(123))), want).isEmpty)
    assert(QueryPass.check(run(QueryPass.Checksum(10, BigDecimal(124))), want).nonEmpty)
    assert(QueryPass.check(run(QueryPass.Checksum(11, BigDecimal(123))), want).nonEmpty)
    assert(QueryPass.check(Seq(QueryPass.QueryRun("other", 0, 0, Some(want("q")), 0L)), want).nonEmpty)
    assert(QueryPass.check(Seq(QueryPass.QueryRun("q", 0, 0, None, 0L)), want).nonEmpty)
  }

  test("every query of every workload has a recorded expectation") {
    val expected = QueryPass.readExpected(benchDir.resolve("expected/query_checksums.tsv"))
    (QueryPass.Repertoire ++ QueryPass.Heavy).foreach(q => assert(expected.contains(q), q))
    assert(QueryPass.formatExpected(Seq(QueryPass.QueryRun("q", 0, 0,
      Some(QueryPass.Checksum(3, BigDecimal("-12"))), 0L))) == "q\t3\t-12\n")
  }

  test("a recorded query run against the bundled tables still matches") {
    val expected = QueryPass.readExpected(benchDir.resolve("expected/query_checksums.tsv"))
    val r = QueryPass.runOne(spark, "q16_dedup_keepfirst",
      benchDir.resolve("data/tables").toString, check = true)
    assert(QueryPass.check(Seq(r), expected).isEmpty)
    val tampered = expected.updated(r.name, r.sum.get.copy(hash = r.sum.get.hash + 1))
    assert(QueryPass.check(Seq(r), tampered).nonEmpty)
  }
}
