package graft.tools

import graft.{SparkEntry, SparkSpec}

class ProfileSpec extends SparkSpec {

  test("warm median leaves out rep 0 and averages an even middle") {
    assert(Profile.warmMedian(Seq(5.0)) == 5.0)
    assert(Profile.warmMedian(Seq(9.0, 3.0, 1.0)) == 2.0)          // warm 1, 3
    assert(Profile.warmMedian(Seq(9.0, 4.0, 1.0, 2.0)) == 2.0)     // warm 1, 2, 4
    assert(Profile.warmMedian(Seq(9.0, 4.0, 1.0, 3.0, 2.0)) == 2.5) // warm 1, 2, 3, 4
  }

  test("listener counts repeat exactly across reps and see the shuffle") {
    val rec = new Profile.Recorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(rec)
    val reps = try (0 until 3).map { _ =>
      Profile.measure(spark, rec)(spark.range(0, 1000, 1, 4).repartition(2).count())
    } finally {
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(rec)
    }
    assert(reps.map(_.n).toSet == Set(1000L))
    val counts = reps.map(_.c.copy(analysisMs = 0, optimizationMs = 0, planningMs = 0))
    assert(counts.toSet.size == 1, counts)
    val c = counts.head
    assert(c.jobs >= 1 && c.stages >= 2 && c.tasks >= 4, c)
    assert(c.shufW > 0 && c.shufR > 0, c)
  }

  test("a --conf variant runs in its own session and leaves the base alone") {
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val vs = Profile.variants(spark, Seq(key -> "7"))
    assert(vs.map(_._1) == Seq("v0", "v1"))
    assert(vs.head._2 eq spark)
    assert(vs(1)._2 ne spark)
    assert(vs(1)._2.conf.get(key) == "7")
    assert(spark.conf.get(key) == before)
  }

  test("arguments parse into names, reps, confs and a plan dir") {
    val a = Profile.parse(
      Seq("q1, q2", "5", "--conf", "k=v=w", "--plan", "plans/out", "--conf", "a=1"),
      Set("q1", "q2"))
    assert(a == Profile.Args(Seq("q1", "q2"), 5, Seq("k" -> "v=w", "a" -> "1"),
      Some("plans/out")))
    assert(Profile.parse(Seq("q1"), Set("q1")).reps == 3)
  }

  test("unknown queries and malformed arguments fail with the usage line") {
    val known = SparkEntry.queries.contains _
    Seq(
      Seq() -> "no query",
      Seq(",") -> "no query",
      Seq("no_such_query") -> "no_such_query",
      Seq("q01_scan_project", "x") -> "reps",
      Seq("q01_scan_project", "0") -> "reps",
      Seq("q01_scan_project", "3", "4") -> "unexpected",
      Seq("q01_scan_project", "--conf") -> "--conf",
      Seq("q01_scan_project", "--conf", "noequals") -> "k=v",
      Seq("q01_scan_project", "--plan") -> "--plan",
      Seq("q01_scan_project", "--reps", "3") -> "--reps"
    ).foreach { case (args, why) =>
      val e = intercept[IllegalArgumentException](Profile.parse(args, known))
      assert(e.getMessage.contains(why) && e.getMessage.contains(Profile.Usage),
        s"$args: ${e.getMessage}")
    }
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }
}
