package graft

/**
 * STANDALONE per-query floor measurement — the standing record the 2×
 * perf contract compares against (BASELINE.md "floors" table), instead
 * of in-suite totals that background page-cache reclaim scrambles
 * (r16/r17 riser adjudications both ended there). For each named
 * query: one COLD run (includes any one-time fixture/store build the
 * query's dir memoization hasn't paid yet in this process) and N WARM
 * runs; the floor is the MINIMUM warm time. Prints one JSON line:
 * `{"sf":…, "load":…, "queries":{name:{"cold":s,"warm":[s…],"floor":s}}}`.
 * A query whose run failed also carries `"error"` (its first failure),
 * and the exit code is 2, as in [[Bench]].
 *
 * Usage: `runMain graft.Floors <sfDir> <q1,q2,…> [warmRuns]`
 */
object Floors {
  /** (query, cold seconds, warm seconds, first error) */
  type Result = (String, Double, Seq[Double], Option[String])

  def line(sfDir: String, loadStart: Double, loadEnd: Double,
      warmRuns: Int, results: Seq[Result]): String = {
    val qjson = results.map { case (n, cold, warm, error) =>
      val err = error.fold("")(e => s""","error":${Json.str(e)}""")
      s""""$n":{"cold":${f"$cold%.3f"},"warm":[${
        warm.map(w => f"$w%.3f").mkString(",")}],"floor":${
        f"${warm.min}%.3f"}$err}"""
    }.mkString(",")
    s"""{"sf":"$sfDir","load_start":$loadStart,""" +
      s""""load_end":$loadEnd,"warm_runs":$warmRuns,""" +
      s""""queries":{$qjson}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = Harness.select(Some(args(1)))
    val warmRuns = if (args.length > 2) args(2).toInt else 3
    require(warmRuns >= 1, s"warmRuns must be at least 1, got $warmRuns")
    Harness.run(sfDir) { spark =>
      val loadStart = Harness.load()
      val queries = SparkEntry.queries
      val results = names.map { name =>
        val fn = queries(name)
        val runs = (0 to warmRuns).map(_ => Harness.time(spark, sfDir, fn))
        (name, runs.head._1, runs.tail.map(_._1), runs.flatMap(_._2).headOption)
      }
      println(line(sfDir, loadStart, Harness.load(), warmRuns, results))
      if (results.exists(_._4.isDefined)) 2 else 0
    }
  }
}
