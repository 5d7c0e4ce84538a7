package graft

/**
 * Dump `explain("formatted")` for every declared query (or a named
 * subset) to one file per query — the r20 optimization round's plan
 * evidence (`plans/r20/<query>_<tag>.txt`). Building a query's
 * DataFrame runs its fixture writes, so a full dump is NOT free, but no
 * declared query's final plan executes.
 *
 * Usage: `runMain graft.PlanDump <sfDir> <outDir> <tag> [q1,q2,…]`
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, tag) = (args(0), args(1), args(2))
    val names = Harness.select(args.lift(3)).sorted
    Harness.run(sfDir) { spark =>
      new java.io.File(outDir).mkdirs()
      val queries = SparkEntry.queries
      names.foreach { name =>
        val plan =
          try queries(name)(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          catch { case e: Throwable => s"PLAN FAILED: $e" }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
      }
      0
    }
  }
}
