package graft.meta

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col

/** The one place fixture parquet files are written. A fixture file is a
  * few thousand rows at most, so its rows are collected to the driver
  * (one Spark job) and written there through Spark's own parquet
  * `OutputWriterFactory`: the bytes come from the same writer a
  * `df.write.parquet` task uses, without the write job, the commit
  * protocol, a temp dir, a copy to the destination or a footer
  * re-read for the row count. */
private[meta] object FixtureIO {

  /** Write `df` as exactly ONE parquet file at `dst` (replacing it if
    * present); returns the row count. Rows land in the order
    * `df.coalesce(1)` yields them, as in a single-file Spark write of
    * the frame. */
  def writeSingleParquet(df: DataFrame, dst: java.io.File): Long = {
    val qe = df.coalesce(1).queryExecution
    val out = qe.optimizedPlan.output
    writeFile(df.sparkSession, out, out, qe.executedPlan.executeCollect(), dst)
  }

  /** Write `sliceExpr`-keyed slices 0..n-1 of `df` — each exactly one
    * parquet file at `dst(i)`, an empty slice as a valid empty file —
    * from ONE collect, and return (i -> row count). Rows within a slice
    * come out ascending by the frame's FIRST column (the builders'
    * slice key order; POSITION-critical for the iceberg MOR fixture's
    * f0). `dropCols` are sort keys after the slice id and are not
    * written. Slice ids match by their string form (`__slice=i`, as a
    * `partitionBy("__slice")` directory names them). */
  def writeSlices(
      df: DataFrame, sliceExpr: Column, n: Int, dst: Int => java.io.File,
      dropCols: Seq[String] = Nil): Map[Int, Long] = {
    val qe = df.withColumn("__slice", sliceExpr).coalesce(1)
      .sortWithinPartitions(
        (col("__slice") +: dropCols.map(col)) :+ col(df.columns.head): _*)
      .queryExecution
    val out = qe.optimizedPlan.output
    val slice = out.indexWhere(_.name == "__slice")
    val data = out.filterNot(a => a.name == "__slice" || dropCols.contains(a.name))
    val bySlice = qe.executedPlan.executeCollect()
      .groupBy(r => String.valueOf(r.get(slice, out(slice).dataType)))
    (0 until n).map { i =>
      val rows = bySlice.getOrElse(i.toString, Array.empty[InternalRow])
      i -> writeFile(df.sparkSession, data, out, rows, dst(i))
    }.toMap
  }

  /** Write `rows` (laid out as `input`) as the `data` columns of one
    * parquet file at `dst`, through the writer factory Spark's parquet
    * write job would use, on the session's Hadoop conf. The local file
    * system is the raw one, so no `.crc` twin lands next to the
    * fixture. Returns the number of rows written. */
  private def writeFile(spark: SparkSession, data: Seq[Attribute],
      input: Seq[Attribute], rows: Array[InternalRow],
      dst: java.io.File): Long = {
    val schema = DataTypeUtils.fromAttributes(data)
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val conf = job.getConfiguration
    conf.set("fs.file.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, new org.apache.hadoop.mapreduce.TaskAttemptID())
    java.nio.file.Files.deleteIfExists(dst.toPath)
    val proj = UnsafeProjection.create(data, input)
    val writer = factory.newInstance(dst.toURI.toString, schema, ctx)
    try rows.foreach(r => writer.write(proj(r)))
    finally writer.close()
    rows.length
  }

  /** Total row count from a local parquet file's footer (driver-side,
    * no Spark job). */
  def parquetRowCount(file: java.io.File): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(file.getPath),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Delete a fixture root if present and REFUSE loudly when residue
    * survives: a fixture written over leftovers from a prior run can
    * rows-match but hash-mismatch its oracle — the one failure shape
    * indistinguishable from engine wrongness in the artifact. */
  def freshDir(dir: java.io.File): Unit = {
    if (dir.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(dir)
      require(!dir.exists(),
        s"fixture dir $dir survived cleanup; refusing to write over residue")
    }
  }
}
