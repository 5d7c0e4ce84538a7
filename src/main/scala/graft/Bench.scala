package graft

/**
 * The timed query inventory: every query (or the `SPARK_GRAFT_ONLY`
 * subset) once, through [[Harness.time]], over `SPARK_GRAFT_SF_DIR`.
 * Prints a full JSON line and a compact final line; the full per-query
 * record is also written to `SPARK_GRAFT_BENCHFULL`. Any failed query
 * makes the exit code 2.
 *
 * Usage: `sbt "runMain graft.Bench"`
 */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Optional subset: the suite-pressure bisect tool — run halves of the
    // inventory in separate JVMs and compare against the same queries'
    // full-suite times.
    val names = Harness.select(sys.env.get("SPARK_GRAFT_ONLY")).sorted
    Harness.run(sfDir) { spark =>
      val (loadStart, cachedStartMb) = (Harness.load(), cachedMb)
      val queries = SparkEntry.queries
      val results = names.map { name =>
        val (secs, error) = Harness.time(spark, sfDir, queries(name))
        (name, secs, error)
      }
      val load = Harness.load()
      val fullLn = fullLine(results, load, loadStart, cachedStartMb, cachedMb,
        sfDir)
      // The per-round artifact keeps only the TAIL of this process's
      // output, so anything that must survive truncation prints LAST: the
      // complete record also goes to a file (path overridable for
      // per-round naming), and the final stdout line is the compact one.
      val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCHFULL", "BENCHFULL.json")
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
          (fullLn + "\n").getBytes("UTF-8"))
      } catch { case e: Throwable =>
        System.err.println(s"benchfull write failed: $e")
      }
      println(fullLn)
      println(finalLine(results, load, fullPath, sfDir))
      if (results.exists(_._3.isDefined)) 2 else 0
    }
  }

  /** (query, seconds, error) */
  type Result = (String, Double, Option[String])

  private def times(results: Seq[Result]): String =
    results.map { case (k, v, _) => Json.str(k) + ":" + v }
      .mkString("{", ",", "}")

  /** The complete record: every query's time and every error, plus the
    * ambient load and page-cache context at start and end. */
  def fullLine(results: Seq[Result], load: Double, loadStart: Double,
      cachedStartMb: Long, cachedEndMb: Long, sfDir: String): String = {
    val errs = results.collect { case (k, _, Some(e)) =>
      Json.str(k) + ":" + Json.str(e)
    }.mkString("{", ",", "}")
    val ambient =
      s""""load":$load,"load_start":$loadStart,""" +
        s""""cached_mb_start":$cachedStartMb,"cached_mb_end":$cachedEndMb"""
    s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec",$ambient,"queries":${times(results)},"errors":$errs,"sf":"$sfDir"}"""
  }

  /** The compact last line: total, load, error count and only the top-10
    * slowest queries — small enough that no tail capture can cut it. */
  def finalLine(results: Seq[Result], load: Double, fullPath: String,
      sfDir: String): String = {
    val top10 = times(results.sortBy(-_._2).take(10))
    s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","load":$load,"nQueries":${results.size},"nErrors":${results.count(_._3.isDefined)},"queries":$top10,"full":${Json.str(fullPath)},"sf":"$sfDir"}"""
  }

  /** Page-cache size: same-day full-suite runs have measured 1.0-1.3x
    * apart purely from page-cache reclaim between runs (r17,
    * BASELINE.md), so the artifact carries the numbers that adjudicate
    * that. */
  private def cachedMb: Long =
    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files
        .readAllLines(java.nio.file.Paths.get("/proc/meminfo")).asScala
        .collectFirst { case l if l.startsWith("Cached:") =>
          l.split("\\s+")(1).toLong / 1024 }
        .getOrElse(-1L)
    } catch { case _: Throwable => -1L }
}
