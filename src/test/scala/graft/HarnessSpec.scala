package graft

/** The shared harness's modes on the test session (sf0.001): fixture
  * selection, fail-fast name checks, and the stamp's non-vacuity print.
  */
class HarnessSpec extends SparkSpec {

  private def stdout(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(body)
    buf.toString("UTF-8")
  }

  // a store-building query: its fixture is registered in benchSetups
  private val fixtureQuery = "store_upsert_roundtrip"

  test("setups runs only the named fixtures") {
    assert(SparkEntry.benchSetups.contains(fixtureQuery))
    assert(!SparkEntry.benchSetups.contains("q1_agg"))
    val ran = Harness.setups(spark, sf0001, Seq(fixtureQuery, "q1_agg"))
    assert(ran.map(_._1) == Seq(fixtureQuery))
    assert(Harness.setups(spark, sf0001, Nil).isEmpty)
  }

  test("stamp prints the setup, three laps and non-empty row evidence") {
    val out = stdout(Harness.stamp(spark, sf0001, Seq(fixtureQuery)))
    assert(out.contains(s"$fixtureQuery setup: "), out)
    (1 to 3).foreach(i => assert(out.contains(s"$fixtureQuery run$i: "), out))
    val rows = s"""$fixtureQuery warm: [0-9.]+ s  \\[rows=([0-9]+)""".r
      .findFirstMatchIn(out).map(_.group(1).toLong)
    assert(rows.exists(_ > 0), s"expected rows=N with N > 0:\n$out")
  }

  test("an unknown name fails before any setup or lap runs") {
    val names = Seq(fixtureQuery, "no_such_query")
    val modes: Seq[(String, () => Unit)] = Seq(
      "time" -> (() => Harness.time(spark, sf0001, names)),
      "stamp" -> (() => Harness.stamp(spark, sf0001, names)),
      "plan" -> (() => Harness.plan(spark, sf0001,
        s"${sys.props("java.io.tmpdir")}/graft_harness_plans", "t", names)),
      "audit" -> (() => Harness.audit(spark, sf0001, names)))
    modes.foreach { case (mode, run) =>
      val out = stdout {
        val e = intercept[IllegalArgumentException](run())
        assert(e.getMessage.contains("no_such_query"), s"$mode: ${e.getMessage}")
      }
      assert(out.isEmpty, s"$mode printed before failing:\n$out")
    }
  }

  test("plan writes the formatted plan to <query>_<tag>.txt") {
    val dir = java.nio.file.Paths.get(s"${sys.props("java.io.tmpdir")}/graft_harness_plans")
    val out = stdout(Harness.plan(spark, sf0001, dir.toString, "t", Seq("q1_agg")))
    val file = dir.resolve("q1_agg_t.txt")
    assert(out.contains(s"wrote $file"), out)
    // attribute and plan ids differ between two constructions of a plan
    def shape(p: String) = p.replaceAll("(#|plan_id=)[0-9]+", "$1")
    val text = new String(java.nio.file.Files.readAllBytes(file), "UTF-8")
    assert(shape(text) == shape(SparkEntry.queries("q1_agg")(spark, sf0001)
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
  }
}
