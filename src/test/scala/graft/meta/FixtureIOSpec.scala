package graft.meta

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The FixtureIO contract the lake fixture builders rest on: one file per
  * slice, within-slice rows ascending by the frame's first column
  * (POSITION-critical for the iceberg MOR fixture), an empty slice as a
  * valid empty parquet file, and — since the files are written on the
  * driver — the same bytes a Spark write job gives the same frame.
  *
  * The reference writes below are the job-based paths FixtureIO replaced
  * (a `coalesce(1)` write, and a `partitionBy` write of the repartitioned
  * slices), run in the same JVM: parquet-mr lists a column's encodings
  * from a HashSet of enums, so files from two JVMs can differ in footer
  * bytes even when the writer and the rows are the same. */
class FixtureIOSpec extends SparkSpec {

  private def withBase(name: String)(body: File => Unit): Unit = {
    val base = new File(s"/tmp/graft_test_fixtureio_$name")
    FileUtils.deleteQuietly(base)
    base.mkdirs()
    try body(base) finally FileUtils.deleteQuietly(base)
  }

  private def bytes(f: File): Seq[Byte] = Files.readAllBytes(f.toPath).toSeq

  private def partsUnder(d: File): Seq[File] = {
    val fs = Option(d.listFiles()).getOrElse(Array.empty[File]).toSeq
    fs.filter(f => f.isFile && f.getName.endsWith(".parquet")) ++
      fs.filter(_.isDirectory).flatMap(partsUnder)
  }

  /** Spark's single-file write: coalesce(1) into a temp dir, the part
    * file's bytes. */
  private def sparkSingle(df: DataFrame, tmp: File): Seq[Byte] = {
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    val Seq(part) = partsUnder(tmp)
    try bytes(part) finally FileUtils.deleteQuietly(tmp)
  }

  /** Spark's one-job slice write: each slice's part-file bytes, and an
    * empty slice as the single-file write of the empty frame. */
  private def sparkSlices(df: DataFrame, slice: Column, n: Int,
      dropCols: Seq[String], tmp: File): Map[Int, Seq[Byte]] = {
    df.withColumn("__slice", slice)
      .repartition(n, col("__slice"))
      .sortWithinPartitions(
        (col("__slice") +: dropCols.map(col)) :+ col(df.columns.head): _*)
      .write.partitionBy("__slice" +: dropCols: _*)
      .mode("overwrite").parquet(tmp.getPath)
    try (0 until n).map { i =>
      partsUnder(new File(tmp, s"__slice=$i")) match {
        case Seq() => i -> sparkSingle(
          df.filter(lit(false)).drop(dropCols: _*), new File(tmp.getPath + "_e"))
        case Seq(part) => i -> bytes(part)
      }
    }.toMap finally FileUtils.deleteQuietly(tmp)
  }

  /** A docs-like frame: a permuted doc_id (arrival order scrambled), a
    * nullable string and a double. */
  private def docs(rows: Int): DataFrame = spark.range(0, rows, 1, 7)
    .select(((col("id") * 37) % rows).as("doc_id"),
      when(col("id") % 11 === 0, lit(null))
        .otherwise(concat(lit("l"), (col("id") % 3).cast("string"))).as("lang"),
      (col("id") / 7.0).as("score"))

  test("writeSlices keeps within-slice first-column order and survives an empty slice") {
    withBase("order") { base =>
      val df = spark.range(0, 300, 1, 7)
        .select(((col("id") * 37) % 300).as("doc_id"),
          (col("id") % 5).as("payload"))
      // three slices; slice 1 deliberately EMPTY
      val slice = when(col("doc_id") < 100, 0).otherwise(2)
      val counts = FixtureIO.writeSlices(df, slice, 3,
        i => new File(base, s"f$i.parquet"))
      assert(counts === Map(0 -> 100L, 1 -> 0L, 2 -> 200L))
      for ((i, n) <- Seq((0, 100), (2, 200))) {
        val ids = spark.read
          .parquet(new File(base, s"f$i.parquet").getPath)
          .select("doc_id").collect().map(_.getLong(0)).toSeq
        assert(ids.length === n)
        assert(ids === ids.sorted, s"slice $i not ascending by first column")
      }
      val empty = spark.read.parquet(new File(base, "f1.parquet").getPath)
      assert(empty.columns.toSeq === Seq("doc_id", "payload"))
      assert(empty.count() === 0)
      assert(base.list().toSeq.sorted === Seq("f0.parquet", "f1.parquet", "f2.parquet"))
    }
  }

  test("writeSlices writes the bytes Spark's slice write job wrote: flat, empty slice, union + dropCols") {
    withBase("slices") { base =>
      val d = docs(400)
      // flat slices, one of them (3) empty
      val flat = pmod(col("doc_id"), lit(4)) % lit(3)
      val flatRef = sparkSlices(d, flat, 4, Nil, new File(base, "ref"))
      val out = new File(base, "flat")
      out.mkdirs()
      val counts = FixtureIO.writeSlices(d, flat, 4, i => new File(out, s"f$i.parquet"))
      assert(counts(3) === 0L)
      assert(counts.values.sum === 400L)
      for (i <- 0 until 4)
        assert(bytes(new File(out, s"f$i.parquet")) === flatRef(i), s"flat slice $i")
      assert(out.list().toSeq.sorted === (0 until 4).map(i => s"f$i.parquet"))

      // the Hudi base-file shape: a tagged union, the tag a dropped sort key
      val parts = Seq(
        d.filter(pmod(col("doc_id"), lit(3)) === 0),
        d.filter(pmod(col("doc_id"), lit(3)) === 1),
        d.filter(pmod(col("doc_id"), lit(3)) === 0)
          .withColumn("score", col("score") + 1.0))
      val tagged = parts.zipWithIndex
        .map { case (p, i) => p.withColumn("__fslice", lit(i)) }
        .reduce(_ unionByName _)
      val unionRef = sparkSlices(tagged, col("__fslice"), 3, Seq("__fslice"),
        new File(base, "ref"))
      val uOut = new File(base, "union")
      uOut.mkdirs()
      FixtureIO.writeSlices(tagged, col("__fslice"), 3,
        i => new File(uOut, s"u$i.parquet"), dropCols = Seq("__fslice"))
      for (i <- 0 until 3)
        assert(bytes(new File(uOut, s"u$i.parquet")) === unionRef(i), s"union slice $i")
      assert(spark.read.parquet(new File(uOut, "u0.parquet").getPath).columns.toSeq ===
        Seq("doc_id", "lang", "score"))
    }
  }

  test("writeSingleParquet writes the bytes Spark's single-file write wrote: filter, order, limit, nested") {
    withBase("single") { base =>
      val d = docs(300)
      // the Delta checkpoint shape: null-typed action structs next to
      // structs of non-nullable literal fields, unioned
      val addType = StructType(Seq(StructField("path", StringType),
        StructField("size", LongType)))
      val ckpt = d.limit(20)
        .select(struct(col("lang").as("path"), col("doc_id").as("size")).as("add"),
          lit(null).cast(StructType(Seq(StructField("minReaderVersion", IntegerType))))
            .as("protocol"))
        .unionByName(spark.range(1).select(lit(null).cast(addType).as("add"),
          struct(lit(1).as("minReaderVersion")).as("protocol")))
      val shapes = Seq(
        "filter" -> d.filter(pmod(col("doc_id"), lit(3)) === 1).select("doc_id", "lang"),
        "order" -> d.filter(pmod(col("doc_id"), lit(2)) === 0).orderBy(col("doc_id")),
        "limit" -> d.filter(pmod(col("doc_id"), lit(3)) === 2).limit(5),
        "nested" -> ckpt,
        "empty" -> d.filter(lit(false)))
      val rows = Map("filter" -> 100L, "order" -> 150L, "limit" -> 5L,
        "nested" -> 21L, "empty" -> 0L)
      val out = new File(base, "out")
      out.mkdirs()
      for ((name, df) <- shapes) {
        val ref = sparkSingle(df, new File(base, "ref"))
        val dst = new File(out, s"$name.parquet")
        assert(FixtureIO.writeSingleParquet(df, dst) === rows(name), name)
        assert(bytes(dst) === ref, s"$name: bytes differ from Spark's writer")
      }
      // exactly the fixture files: no .crc twin, no _SUCCESS, no temp dir
      assert(out.list().toSeq.sorted === shapes.map(_._1 + ".parquet").sorted)
      assert(base.list().toSeq === Seq("out"))
    }
  }

  test("writeSingleParquet replaces an existing destination") {
    withBase("replace") { base =>
      val dst = new File(base, "f.parquet")
      Files.write(dst.toPath, Array.fill[Byte](64 * 1024)(7))
      val df = docs(50)
      assert(FixtureIO.writeSingleParquet(df, dst) === 50L)
      assert(bytes(dst) === sparkSingle(df, new File(base, "ref")))
      assert(spark.read.parquet(dst.getPath).count() === 50L)
    }
  }
}
