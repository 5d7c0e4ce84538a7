package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/local_verify.py`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,…]`. A query
  * that fails is reported on stderr and makes the exit code 2, as in
  * [[Bench]]. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (fast local iteration)
    val only: Option[Set[String]] =
      args.lift(2).map(l => Harness.select(Some(l)).toSet)
    def selected(name: String): Boolean = only.forall(_.contains(name))
    Harness.run(sfDir) { spark =>
      // HERMETIC full sweeps: every fixture/store/checkpoint this run
      // writes lives under /tmp/graft_*; state left by a run of an OLDER
      // commit must never leak into this run's results or the DuckDB
      // oracle reads that follow. Filtered runs keep /tmp (fast local
      // iteration relies on it).
      if (only.isEmpty) {
        // fast-scratch state (checkpoints, stream staging) lives under
        // EntryHelpers.scratchBase — clean both roots
        Seq("/tmp", EntryHelpers.scratchBase).distinct.foreach { root =>
          Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
            .filter(f => f.getName.startsWith("graft_") &&
              // never the LIVE session's own shuffle dir
              f.getName != "graft_spark_local")
            .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
        }
      }
      val failed = dump(spark, sfDir, outDir,
        SparkEntry.queries.toSeq.filter { case (name, _) => selected(name) })
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => selected(k) }
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      if (failed.nonEmpty) 2 else 0
    }
  }

  /** Write each query's result as parquet under `outDir/<name>`; returns
    * the names of the queries that failed, each reported on stderr. */
  def dump(spark: org.apache.spark.sql.SparkSession, sfDir: String,
      outDir: String, queries: Seq[(String, Harness.Query)]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    queries.flatMap { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failure BEFORE the write action leaves the PREVIOUS run's
        // result parquet in place — the compare would then hash stale
        // output against a fresh oracle. No result beats a wrong one.
        org.apache.commons.io.FileUtils.deleteQuietly(
          new java.io.File(s"$outDir/$name"))
        Some(name)
      }
    }
  }
}
