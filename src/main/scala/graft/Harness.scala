package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * The one harness behind the `Bench`, `Floors`, `PlanDump` and `Verify`
 * mains: the session, the untimed warmup, query selection, the timed
 * call and the main body live here once, so the modes cannot drift
 * apart. Each mode keeps only its own output.
 */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** The harness session: local[SPARK_GRAFT_CPUS] (default 4),
    * shuffle.partitions = cpus, UTC, graft extensions, scratch local and
    * warehouse dirs, UI off, log level WARN. */
  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", EntryHelpers.sparkLocalDir)
      .config("spark.sql.warehouse.dir", EntryHelpers.warehouseDir)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Untimed warmup: exercise codegen, shuffle, parquet and window paths
    * once so the first timed query measures steady state, not JVM/JIT and
    * classloading warmup (worth several seconds on the first query). */
  private def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      import org.apache.spark.sql.functions._
      import org.apache.spark.sql.expressions.Window
      spark.range(0, 100000, 1, 8)
        .withColumn("g", pmod(col("id"), lit(64)))
        .withColumn("rn",
          row_number().over(Window.partitionBy(col("g")).orderBy(col("id"))))
        .groupBy(col("g")).agg(sum(col("id")), count(lit(1)), max(col("rn")))
        .collect()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
    } catch { case _: Throwable => () }

  /** The query names a comma-separated list selects, in list order;
    * `None` selects every query, sorted by name. Names are trimmed and
    * empty entries dropped. An unknown name or an empty list fails the
    * run: a typo must never bench, dump or verify a different (or empty)
    * set than asked for. */
  def select(list: Option[String],
      known: Set[String] = SparkEntry.queries.keySet): Seq[String] =
    list match {
      case None => known.toSeq.sorted
      case Some(l) =>
        val names = l.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
        require(names.nonEmpty, s"no query names in '$l'")
        val unknown = names.filterNot(known)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        names
    }

  /** One timed run: wall seconds and the error, if any. The action counts
    * the PHYSICAL plan's rows via `queryExecution.toRdd`, not
    * `df.count()`: under count() Catalyst prunes unreferenced projections,
    * so a pure-select query would be timed with the very expression under
    * benchmark optimized away. A failure is recorded, never thrown — a
    * broken query must read as an error, not as a fast one, and must not
    * stop the loop. */
  def time(spark: SparkSession, sfDir: String, fn: Query)
      : (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val error =
      try { fn(spark, sfDir).queryExecution.toRdd.count(); None }
      catch { case e: Throwable => Some(e.toString.takeWhile(_ != '\n').take(200)) }
    ((System.nanoTime() - t0) / 1e9, error)
  }

  /** 1-minute system load average: timings on a shared box are only
    * comparable load-for-load, so artifacts carry their own context. */
  def load(): Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  /** A mode's main body: session and warmup, `body`, then `spark.stop()`;
    * a non-zero code from `body` becomes the process exit code. */
  def run(sfDir: String)(body: SparkSession => Int): Unit = {
    val spark = session()
    warmup(spark, sfDir)
    val code = try body(spark) finally spark.stop()
    if (code != 0) sys.exit(code)
  }
}
