package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * `listmode=sharded` (the iterator walk with no InMemoryFileIndex and
 * no status cache) must be a drop-in listing: same rows as the default
 * index path over a partitioned tree, same scans, same hidden-file
 * rules — only the driver-memory shape differs (BASELINE.md "Million-file
 * listing posture: listmode=sharded").
 */
class ListModeSpec extends SparkSpec {

  test("sharded listing agrees with the index path row for row") {
    val d = Files.createTempDirectory("graft_listmode").toString
    spark.range(0, 200)
      .select(col("id"), (col("id") % 4).cast("string").as("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(d)
    // a hidden file and a hidden directory must stay invisible to both
    Files.write(new java.io.File(d, "_hidden.bin").toPath, Array[Byte](1))
    val hd = new java.io.File(d, ".staging"); hd.mkdirs()
    Files.write(new java.io.File(hd, "tmp.bin").toPath, Array[Byte](1))

    def rows(mode: String): Set[String] =
      spark.read.format("metadata")
        .option("level", "file").option("source", "parquet")
        .option("listmode", mode).load(d)
        .select(col("filepath"), col("size"), to_json(col("partition")))
        .collect().map(_.mkString("|")).toSet

    val idx = rows("index")
    val sharded = rows("sharded")
    assert(idx.nonEmpty)
    assert(sharded === idx)
    // and the sharded listing drives real pruned scans
    val pruned = spark.read.format("metadata")
      .option("level", "file").option("listmode", "sharded").load(d)
      .filter(element_at(col("partition"), "lang") === "2")
    assert(pruned.count() > 0)

    val e = intercept[Exception](rows("bogus"))
    parityOverTimestampPartitions()
    def msgs(t: Throwable): String = {
      var c: Throwable = t; var s = ""
      while (c != null) { s += c.getMessage + " "; c = c.getCause }
      s
    }
    assert(msgs(e).contains("Invalid listmode"))
  }

  /** TIMESTAMP-shaped partition values: Spark 4's partition inference
    * leaves `HH:mm:ss`-shaped strings as StringType (no `.0` typed
    * rendering exists to diverge on — verified against
    * `InMemoryFileIndex` directly in this environment), so BOTH modes
    * must render the raw URL-decoded form, escaped colons included.
    * Fractions and the bare-seconds form both covered. */
  private def parityOverTimestampPartitions(): Unit = {
    val d = Files.createTempDirectory("graft_listmode_ts").toString
    spark.range(0, 8)
      .select(col("id"),
        when(col("id") % 2 === 0, lit("2020-02-02 01:02:03"))
          .otherwise(lit("2021-03-04 05:06:07.25"))
          .cast("timestamp").as("ts"))
      .write.mode("overwrite").partitionBy("ts").parquet(d)
    def rows(mode: String): Set[String] =
      spark.read.format("metadata")
        .option("level", "file").option("source", "parquet")
        .option("listmode", mode).load(d)
        .select(col("filename"), to_json(col("partition")))
        .collect().map(_.mkString("|")).toSet
    val idx = rows("index")
    // the %3A-escaped dir name decodes back to the colon form
    assert(idx.exists(_.contains("2020-02-02 01:02:03")))
    assert(idx.exists(_.contains("2021-03-04 05:06:07.25")))
    assert(rows("sharded") === idx)
  }

  test("source=file over raw files in shard dirs: both modes agree and " +
      "the sharded scan counts every file") {
    // listing cost is about file COUNT, not content: 8 raw bytes each
    val d = Files.createTempDirectory("graft_listmode_raw").toString
    val (nShards, perShard) = (5, 4)
    for (s <- 0 until nShards; i <- 0 until perShard) {
      val sd = new java.io.File(d, s"shard=$s"); sd.mkdirs()
      Files.write(new java.io.File(sd, s"f$i.bin").toPath,
        "GRFTDATA".getBytes("UTF-8"))
    }
    def scan(mode: String) = spark.read.format("metadata")
      .option("level", "file").option("source", "file")
      .option("listmode", mode).load(d)
    def rows(mode: String): Set[String] =
      scan(mode).select(col("filepath"), col("size"), to_json(col("partition")))
        .collect().map(_.mkString("|")).toSet
    assert(rows("sharded") === rows("index"))
    assert(scan("sharded").count() === nShards * perShard)
  }
}
