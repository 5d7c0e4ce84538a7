package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.functions.IcebergBucketF

/** Fixture writers for the TRANSFORM-partitioned tables
  * [[IcebergMetaTransformPrune]] prunes — hand-written filesystem
  * Iceberg tables (public spec) whose partition tuples carry
  * `bucket[4]` / `truncate[100]` / `day` values. Every tuple value is
  * also derivable from the data files' own rows, so the DuckDB oracle
  * recomputes the transform independently. */
private[meta] trait IcebergMetaTransformFixtures extends Serializable {
  this: IcebergMeta.type =>

  private def transformManifestSchema(
      fieldName: String, avroType: String): org.apache.avro.Schema =
    avroSchema(
      s"""{"type":"record","name":"manifest_entry","fields":[
         |{"name":"status","type":"int"},
         |{"name":"snapshot_id","type":["null","long"],"default":null},
         |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
         |  {"name":"content","type":"int","default":0},
         |  {"name":"file_path","type":"string"},
         |  {"name":"file_format","type":"string"},
         |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
         |    {"name":"$fieldName","type":["null","$avroType"],"default":null}]}},
         |  {"name":"record_count","type":"long"},
         |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private def transformEntry(
      schema: org.apache.avro.Schema, dataDir: java.io.File, rel: String,
      count: Long, field: String, value: Any): org.apache.avro.generic.GenericRecord = {
    val dfSchema = schema.getField("data_file").schema()
    val pr = new org.apache.avro.generic.GenericData.Record(
      dfSchema.getField("partition").schema())
    pr.put(field, value)
    val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
    df.put("content", 0)
    df.put("file_path", s"data/$rel")
    df.put("file_format", "PARQUET")
    df.put("partition", pr)
    df.put("record_count", count)
    df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
    val e = new org.apache.avro.generic.GenericData.Record(schema)
    e.put("status", 1)
    e.put("snapshot_id", null)
    e.put("data_file", df)
    e
  }

  private def writeTransformTable(
      dir: String, metaDir: java.io.File,
      schema: org.apache.avro.Schema,
      entries: Seq[org.apache.avro.generic.GenericRecord],
      totalRows: Long, nFiles: Int,
      schemaFieldsJson: String, specFieldJson: String,
      uuid: String): Unit = {
    writeAvro(new java.io.File(metaDir, "m0.avro"), schema, entries)
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length",
          new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", nFiles)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", totalRows)
        r
      })
    val root = new java.io.File(dir)
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"$uuid",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[$schemaFieldsJson]}],
         |"default-spec-id":0,
         |"partition-specs":[
         |{"spec-id":0,"fields":[$specFieldJson]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":1700000000000,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /**
   * A table partitioned by `bucket[4](doc_id)`: each row's bucket is
   * computed by the vector-pinned [[graft.functions.IcebergBucketF]]
   * (one distributed pass, codegen — the same expression a writer
   * would pre-cluster with), rows land in `data/b<i>.parquet`, and
   * the manifest's partition tuples declare the buckets. The data
   * files CARRY the bucket column, so the oracle derives each file's
   * tuple value and the probe's expected bucket from the data alone.
   * Buckets that attract no rows are simply absent (a fixture must
   * never plant an empty parquet the oracle cannot see). Returns rows
   * per relative file.
   */
  def writeBucketFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val withB = docs.select(col("doc_id"), col("lang"), col("n_chars"),
      ColumnBridge.column(IcebergBucketF(
        ColumnBridge.expression(col("doc_id")), 4)).as("bucket"))
    // all four bucket files in ONE job; a bucket that attracted no rows
    // keeps the old contract (its file is deleted — a fixture must never
    // plant an empty parquet the oracle cannot see)
    val counts = FixtureIO.writeSlices(withB, col("bucket"), 4,
      i => new java.io.File(dataDir, s"b$i.parquet"))
      .flatMap { case (i, c) =>
        val rel = s"b$i.parquet"
        if (c == 0L) {
          new java.io.File(dataDir, rel).delete()
          None
        } else Some(rel -> (i, c))
      }.toMap
    val schema = transformManifestSchema("doc_id_bucket", "int")
    val entries = counts.toSeq.sortBy(_._1).map { case (rel, (i, c)) =>
      transformEntry(schema, dataDir, rel, c, "doc_id_bucket",
        Integer.valueOf(i))
    }
    writeTransformTable(dir, metaDir, schema, entries,
      counts.values.map(_._2).sum, counts.size,
      """ {"id":1,"name":"doc_id","required":false,"type":"long"},
        | {"id":2,"name":"lang","required":false,"type":"string"},
        | {"id":3,"name":"n_chars","required":false,"type":"long"},
        | {"id":4,"name":"bucket","required":false,"type":"int"}"""
        .stripMargin.replace("\n", ""),
      """{"name":"doc_id_bucket","transform":"bucket[4]",
        |"source-id":1,"field-id":1000}""".stripMargin.replace("\n", ""),
      "graft-iceberg-bucket-fixture")
    counts.map { case (rel, (_, c)) => rel -> c }
  }

  /**
   * A table partitioned by `truncate[100](k)` where `k = doc_id mod
   * 400` — four tuple values {0,100,200,300} at ANY scale factor.
   * The truncation is derivable in plain SQL (`k - k % 100`), so the
   * oracle recomputes every tuple value AND the probe's truncated
   * range independently. Returns rows per relative file.
   */
  def writeTruncateFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val withK = docs.select(col("doc_id"),
      pmod(col("doc_id"), lit(400L)).as("k"))
    // all four truncation-range files in ONE job; empty ranges keep the
    // old absent-file contract
    val counts = FixtureIO.writeSlices(withK,
      (col("k") / 100L).cast("int"), 4,
      i => new java.io.File(dataDir, s"t$i.parquet"))
      .flatMap { case (i, c) =>
        val rel = s"t$i.parquet"
        if (c == 0L) {
          new java.io.File(dataDir, rel).delete()
          None
        } else Some(rel -> (i * 100L, c))
      }.toMap
    val schema = transformManifestSchema("k_trunc", "long")
    val entries = counts.toSeq.sortBy(_._1).map { case (rel, (t, c)) =>
      transformEntry(schema, dataDir, rel, c, "k_trunc",
        java.lang.Long.valueOf(t))
    }
    writeTransformTable(dir, metaDir, schema, entries,
      counts.values.map(_._2).sum, counts.size,
      """ {"id":1,"name":"doc_id","required":false,"type":"long"},
        | {"id":2,"name":"k","required":false,"type":"long"}"""
        .stripMargin.replace("\n", ""),
      """{"name":"k_trunc","transform":"truncate[100]",
        |"source-id":2,"field-id":1000}""".stripMargin.replace("\n", ""),
      "graft-iceberg-truncate-fixture")
    counts.map { case (rel, (_, c)) => rel -> c }
  }

  /**
   * A table partitioned by `month(ts)` or `year(ts)`: each doc gets a
   * deterministic synthetic timestamp (2023-06-01 + pmod(doc_id, 300)
   * days — ten months across a year boundary at ANY scale factor),
   * one ONE-PASS `partitionBy` write fans rows into per-unit files,
   * and tuples carry the spec's months- or years-since-epoch int. The
   * unit is derivable from each file's own `ts` values, so the oracle
   * recomputes it. Returns rows per relative file.
   */
  def writeTimeTransformFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame,
      unit: String): Map[String, Long] = {
    require(unit == "month" || unit == "year" || unit == "hour",
      s"unsupported unit $unit")
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val withTs =
      if (unit == "hour")
        // exact-hour timestamps across two days (48 hour partitions at
        // ANY scale factor): 2024-03-01T00Z (epoch 1709251200) + h hours
        docs.select(col("doc_id"),
          timestamp_seconds(lit(1709251200L) +
            pmod(col("doc_id"), lit(48L)) * 3600L).as("ts"))
      else docs.select(col("doc_id"),
        date_add(lit("2023-06-01").cast("date"),
          pmod(col("doc_id"), lit(300L)).cast("int"))
          .cast("timestamp").as("ts"))
    val pv = unit match {
      case "month" => (year(col("ts")) - 1970) * 12 + month(col("ts")) - 1
      case "year" => year(col("ts")) - 1970
      case "hour" => floor(unix_timestamp(col("ts")) / 3600L)
    }
    val tmp = dir + "_ttftmp"
    withTs.withColumn("pv", pv.cast("int"))
      .repartition(col("pv"))
      .write.mode("overwrite").partitionBy("pv").parquet(tmp)
    val counts = scala.collection.mutable.Map.empty[String, (Int, Long)]
    new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("pv="))
      .sortBy(_.getName).foreach { d =>
        val v = d.getName.stripPrefix("pv=").toInt
        val part = d.listFiles().filter(_.getName.endsWith(".parquet"))
        require(part.length == 1,
          s"fixture unit dir $d has ${part.length} part files, expected 1")
        val rel = s"u$v.parquet"
        val dst = new java.io.File(dataDir, rel)
        java.nio.file.Files.copy(part.head.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // row count from the moved file's own footer — not a second
        // Spark read of the whole written table
        counts(rel) = (v, FixtureIO.parquetRowCount(dst))
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    val field = s"ts_$unit"
    val schema = transformManifestSchema(field, "int")
    val entries = counts.toSeq.sortBy(_._1).map { case (rel, (v, c)) =>
      transformEntry(schema, dataDir, rel, c, field, Integer.valueOf(v))
    }
    writeTransformTable(dir, metaDir, schema, entries,
      counts.values.map(_._2).sum, counts.size,
      """ {"id":1,"name":"doc_id","required":false,"type":"long"},
        | {"id":2,"name":"ts","required":false,"type":"timestamp"}"""
        .stripMargin.replace("\n", ""),
      s"""{"name":"$field","transform":"$unit",
         |"source-id":2,"field-id":1000}""".stripMargin.replace("\n", ""),
      s"graft-iceberg-$unit-fixture")
    counts.map { case (rel, (_, c)) => rel -> c }.toMap
  }

  /**
   * A table partitioned by `day(ts)` over the events table (30
   * distinct days at every scale factor): ONE `partitionBy` write
   * fans the rows into per-day files (never a per-day job loop), each
   * moved to `data/d<epoch_day>.parquet`, tuples carry the spec's
   * epoch-days int. The day is derivable from each file's own `ts`
   * values, so the oracle recomputes it. Returns rows per relative
   * file.
   */
  def writeDaysFixtureTable(
      spark: SparkSession, dir: String, events: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val tmp = dir + "_daytmp"
    events.select(col("event_id"), col("ts"), col("value"),
      datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
        .cast("int").as("day"))
      .repartition(col("day"))
      .write.mode("overwrite").partitionBy("day").parquet(tmp)
    val counts = scala.collection.mutable.Map.empty[String, (Int, Long)]
    new java.io.File(tmp).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
      .sortBy(_.getName).foreach { d =>
        val day = d.getName.stripPrefix("day=").toInt
        val part = d.listFiles().filter(_.getName.endsWith(".parquet"))
        require(part.length == 1,
          s"fixture day dir $d has ${part.length} part files, expected 1")
        val rel = s"d$day.parquet"
        val dst = new java.io.File(dataDir, rel)
        java.nio.file.Files.copy(part.head.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // row count from the moved file's own footer — not a second
        // Spark read of the whole written table
        counts(rel) = (day, FixtureIO.parquetRowCount(dst))
      }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    val schema = transformManifestSchema("ts_day", "int")
    val entries = counts.toSeq.sortBy(_._1).map { case (rel, (day, c)) =>
      transformEntry(schema, dataDir, rel, c, "ts_day",
        Integer.valueOf(day))
    }
    writeTransformTable(dir, metaDir, schema, entries,
      counts.values.map(_._2).sum, counts.size,
      """ {"id":1,"name":"event_id","required":false,"type":"long"},
        | {"id":2,"name":"ts","required":false,"type":"timestamp"},
        | {"id":3,"name":"value","required":false,"type":"double"}"""
        .stripMargin.replace("\n", ""),
      """{"name":"ts_day","transform":"day",
        |"source-id":2,"field-id":1000}""".stripMargin.replace("\n", ""),
      "graft-iceberg-days-fixture")
    counts.map { case (rel, (_, c)) => rel -> c }.toMap
  }
}
