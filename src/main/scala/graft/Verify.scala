package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (`tools/local_verify.py`).
  *
  * Usage: `runMain graft.Verify <sfDir> <outDir> [q1,q2,…]` */
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
      new java.io.File(outDir).mkdirs()
      SparkEntry.queries.foreach { case (name, fn) =>
        if (selected(name)) {
          try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            // a failure BEFORE the write action leaves the PREVIOUS run's
            // result parquet in place — the compare would then hash stale
            // output against a fresh oracle. No result beats a wrong one.
            org.apache.commons.io.FileUtils.deleteQuietly(
              new java.io.File(s"$outDir/$name"))
          }
        }
      }
      val json = SparkEntry.oracleSql
        .filter { case (k, _) => selected(k) }
        .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      0
    }
  }
}
