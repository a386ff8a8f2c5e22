package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** [[Bench]]'s failure rule: a query that throws is reported as a failure,
  * never as the time it took to fail.
  */
class BenchSpec extends SparkSpec {

  test("a throwing query lands in failed with a null row, not in the timed queries") {
    val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
      "q_ok" -> ((s, _) => s.range(10).toDF()),
      "q_plan_throws" -> ((_, _) => throw new IllegalStateException("no plan")),
      "q_run_throws" -> ((s, _) => s.range(3).selectExpr("raise_error('boom') AS x")))
    val rs = Bench.timeQueries(spark, "unused", queries, runs = 2)
    val byName = rs.map(r => r.name -> r.sec).toMap
    assert(byName("q_ok").exists(_ >= 0.0))
    assert(byName("q_plan_throws").isEmpty && byName("q_run_throws").isEmpty)
    assert(Bench.failedJson(rs) == """["q_plan_throws","q_run_throws"]""")
    val json = Bench.queriesJson(rs)
    assert(json.contains(""""q_plan_throws":null""") && json.contains(""""q_run_throws":null"""))
    assert(json.matches(""".*"q_ok":\d+\.\d{3}.*"""))
  }
}
