package graft

import org.apache.spark.sql.functions._

/** The shared harness: query selection, Bench's and Floors' output
  * lines, and the timed call's "a broken query must read as an error,
  * not as a fast one" rule. */
class HarnessSpec extends SparkSpec {

  private val known = Set("a", "b", "c")

  test("selection trims names, drops empty entries, keeps list order") {
    assert(Harness.select(None, known) === Seq("a", "b", "c"))
    assert(Harness.select(Some(" c, a ,,"), known) === Seq("c", "a"))
    assert(Harness.select(Some("b,b"), known) === Seq("b"))
  }

  test("selection fails on an unknown name or an empty list") {
    val typo = intercept[IllegalArgumentException](
      Harness.select(Some("a, bb"), known))
    assert(typo.getMessage.contains("unknown queries: bb"))
    val empty = intercept[IllegalArgumentException](
      Harness.select(Some(" , "), known))
    assert(empty.getMessage.contains("no query names"))
  }

  private val results = Seq(
    ("a", 1.5, None),
    ("b", 0.25, Some("java.lang.RuntimeException: boom")))

  test("Bench's full line: fields and order") {
    assert(Bench.fullLine(results, 1.0, 0.5, 100L, 120L, "/d") ===
      """{"metric":"total","value":1.75,"unit":"sec","load":1.0,""" +
        """"load_start":0.5,"cached_mb_start":100,"cached_mb_end":120,""" +
        """"queries":{"a":1.5,"b":0.25},""" +
        """"errors":{"b":"java.lang.RuntimeException: boom"},"sf":"/d"}""")
  }

  test("Bench's final line: fields, order and the top-10 slowest") {
    assert(Bench.finalLine(results, 1.0, "BENCHFULL.json", "/d") ===
      """{"metric":"total","value":1.75,"unit":"sec","load":1.0,""" +
        """"nQueries":2,"nErrors":1,"queries":{"a":1.5,"b":0.25},""" +
        """"full":"BENCHFULL.json","sf":"/d"}""")
    val many = (1 to 12).map(i => (s"q$i", i.toDouble, None))
    val top = Bench.finalLine(many, 0.0, "f", "/d")
    assert(top.contains(
      (12 to 3 by -1).map(i => s""""q$i":$i.0""").mkString("{", ",", "}")))
    assert(top.contains(""""nQueries":12,"nErrors":0"""))
  }

  test("Floors' line carries an error field only for a failed query") {
    val line = Floors.line("/d", 0.5, 1.0, 2, Seq(
      ("a", 1.0, Seq(0.5, 0.25), None),
      ("b", 0.1, Seq(0.2, 0.3), Some("boom"))))
    assert(line ===
      """{"sf":"/d","load_start":0.5,"load_end":1.0,"warm_runs":2,""" +
        """"queries":{"a":{"cold":1.000,"warm":[0.500,0.250],"floor":0.250},""" +
        """"b":{"cold":0.100,"warm":[0.200,0.300],"floor":0.200,""" +
        """"error":"boom"}}}""")
  }

  test("the timed call records a failure as an error and never throws") {
    val queries: Seq[(String, Harness.Query)] = Seq(
      "throws" -> ((_, _) => throw new IllegalStateException("bad\nmore")),
      "good" -> ((s, _) => s.range(0, 100).toDF()),
      "fails_in_exec" -> ((s, _) =>
        s.range(0, 3).select(raise_error(lit("exec failure")))))
    val out = queries.map { case (n, fn) =>
      n -> Harness.time(spark, "/unused", fn)
    }.toMap
    assert(out.keySet === Set("throws", "good", "fails_in_exec"))
    assert(out.values.forall(_._1 >= 0.0))
    assert(out("good")._2 === None)
    assert(out("throws")._2 === Some("java.lang.IllegalStateException: bad"))
    assert(out("fails_in_exec")._2.exists(_.contains("exec failure")))
  }
}
