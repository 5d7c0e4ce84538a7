package graft.meta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The deterministic fixture writers of [[IcebergMeta]] (tests + oracle
  * queries) and their hand-rolled avro manifest schemas. Pure move out
  * of IcebergMeta.scala (r15, file-size split). */
private[meta] trait IcebergMetaFixtures extends Serializable { this: IcebergMeta.type =>

  /**
   * The base fixture re-rooted under a SECOND metadata version:
   * `v2.metadata.json` (same table state) whose `metadata-log` lists
   * the real v1 file and a `v0.metadata.json` that never existed —
   * the broken-lineage shape the audit must surface. `version-hint`
   * moves to 2. Returns per-data-file row counts.
   */
  def writeMetadataLogFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val metaDir = new java.io.File(dir, "metadata")
    val v1 = new java.io.File(metaDir, "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(v1.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val log =
      """"metadata-log":[
        |{"timestamp-ms":1699999999000,
        | "metadata-file":"metadata/v0.metadata.json"},
        |{"timestamp-ms":1700000000000,
        | "metadata-file":"metadata/v1.metadata.json"}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v2.metadata.json").toPath,
      txt.replace(marker, marker + log)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  // ---------------------------------------------------------------------
  // Deterministic fixture writer (tests + oracle queries)
  // ---------------------------------------------------------------------

  private[meta] def avroSchema(json: String): org.apache.avro.Schema =
    new org.apache.avro.Schema.Parser().parse(json)

  private[meta] val manifestListSchema = avroSchema(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"added_files_count","type":"int"},
      |{"name":"existing_files_count","type":"int"},
      |{"name":"deleted_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"}]}""".stripMargin)

  private[meta] val manifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  private[meta] def writeAvro(
      file: java.io.File, schema: org.apache.avro.Schema,
      rows: Seq[org.apache.avro.generic.GenericRecord]): Unit = {
    val w = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    try {
      w.create(schema, file)
      rows.foreach(w.append)
    } finally {
      w.close()
    }
  }

  private[meta] val partManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
      |    {"name":"lang","type":"string"}]}},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"}]}}]}""".stripMargin)

  /**
   * A PARTITIONED filesystem Iceberg table against the public spec:
   * `docs` split by `lang` into `data/lang=<x>/` (two files per
   * partition, doc_id parity), ONE snapshot whose single manifest
   * carries each file's typed `partition` record (the spec's r102) —
   * so "which files serve lang = x" answers from the manifest chain
   * alone. Returns rows per `lang=<x>/f<p>.parquet`.
   */
  def writePartitionedFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()

    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val sliceId = ((array_position(
        lit(langs.toArray), col("lang")) - 1L) * 2L +
      pmod(col("doc_id"), lit(2))).cast("int")
    def relOf(i: Int) = s"lang=${langs(i / 2)}/f${i % 2}.parquet"
    val counts = FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("n_chars"), col("lang")), sliceId,
      langs.size * 2,
      { i =>
        val dst = new java.io.File(dataDir, relOf(i))
        dst.getParentFile.mkdirs()
        dst
      }, dropCols = Seq("lang"))
      .map { case (i, c) => relOf(i) -> c }

    def entry(rel: String, lang: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = partManifestSchema.getField("data_file").schema()
      val pr = new org.apache.avro.generic.GenericData.Record(
        dfSchema.getField("partition").schema())
      pr.put("lang", lang)
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("partition", pr)
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      val e = new org.apache.avro.generic.GenericData.Record(partManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), partManifestSchema,
      langs.flatMap(l => (0 to 1).map(p => entry(s"lang=$l/f$p.parquet", l))))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", langs.size * 2)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-part-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts.toMap
  }

  /**
   * The partitioned fixture plus a PARTITION-STATISTICS file (spec
   * v2+): `metadata/partition-stats-1.parquet` carries one rollup row
   * per `lang` partition — computed CLOSED-FORM from the writer's own
   * per-file counts, except the first lang, which LIES about
   * `data_file_count` (3 instead of 2) so the audit's mismatch flag is
   * exercised. The metadata JSON's `partition-statistics` list names
   * the file for snapshot 1. Returns rows per `lang=<x>/f<p>.parquet`.
   */
  def writePartitionStatsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writePartitionedFixtureTable(spark, dir, docs)
    val root = new java.io.File(dir)
    val metaDir = new java.io.File(root, "metadata")
    val langs = counts.keys.map(_.split("/")(0).stripPrefix("lang="))
      .toSeq.distinct.sorted
    val liar = langs.head
    import spark.implicits._
    val rollups = langs.map { lang =>
      val files = counts.filter(_._1.startsWith(s"lang=$lang/")).toSeq
      val bytes = files.map { case (rel, _) =>
        new java.io.File(new java.io.File(root, "data"), rel).length()
      }.sum
      (lang, if (lang == liar) 3L else files.size.toLong,
        files.map(_._2).sum, bytes)
    }
    val dst = new java.io.File(metaDir, "partition-stats-1.parquet")
    FixtureIO.writeSingleParquet(
      rollups.toDF("lang", "fc", "rc", "bytes")
        .select(struct(col("lang")).as("partition"),
          lit(0).as("spec_id"),
          col("rc").as("data_record_count"),
          col("fc").as("data_file_count"),
          col("bytes").as("total_data_file_size_in_bytes")),
      dst)
    val mf = new java.io.File(metaDir, "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":1,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val entry =
      s""""partition-statistics":[{"snapshot-id":1,
         |"statistics-path":"metadata/partition-stats-1.parquet",
         |"file-size-in-bytes":${dst.length()}}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + entry)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * Hand-write a filesystem Iceberg table against the PUBLIC spec:
   * six parquet slices of `docs` under `data/`, TWO snapshots —
   * snap 1 (append f0..f2) and the CURRENT snap 2 whose manifest list
   * points at three manifests: m0 REUSED VERBATIM (the spec's append
   * shape — `added_snapshot_id=1` with snap 1's original added counts
   * intact, so attribution-blind summary sums are observably wrong),
   * m2 (f3,f4 added + f5 DELETED — written, then removed in snap 2,
   * still on disk), and
   * the DELETE manifest m3 (`content=1`) carrying one position-delete
   * file `del0.parquet` (a real parquet of `(file_path, pos)` rows)
   * that deletes the first 2 positions of f0 — the format-v2
   * merge-on-read shape. The metadata JSON carries both snapshots +
   * `current-snapshot-id`; `version-hint.text` points at it. Live data
   * files at snap 2: f0..f4 (5 files), net rows = their sum minus the
   * 2 deleted positions. Returns the per-data-file row counts.
   */
  def writeFixtureTable(spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()

    // one Spark job for all six slices (was one write job per slice);
    // rows ascend by doc_id within each slice — POSITION-critical for
    // f0, whose first two row positions the position-delete file below
    // names
    val n = 6
    val counts = FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("lang")),
      pmod(col("doc_id"), lit(n)), n,
      i => new java.io.File(dataDir, s"f$i.parquet"))
      .map { case (i, c) => s"f$i.parquet" -> c }

    // a REAL position-delete file (the spec's merge-on-read shape):
    // (file_path, pos) rows deleting the first 2 positions of f0
    val f0Abs = new java.io.File(dataDir, "f0.parquet").getAbsolutePath
    val deletedPositions = 2L
    locally {
      import spark.implicits._
      FixtureIO.writeSingleParquet(
        Seq((f0Abs, 0L), (f0Abs, 1L)).toDF("file_path", "pos"),
        new java.io.File(dataDir, "del0.parquet"))
    }

    def entry(status: Int, f: String, content: Int = 0,
        records: Option[Long] = None): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", content)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", records.getOrElse(counts(f)))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", status)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    // snap 1: one manifest, f0..f2 added
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry(1, "f0.parquet"), entry(1, "f1.parquet"), entry(1, "f2.parquet")))
    // snap 2 REUSES m0 verbatim (the spec's append shape: prior
    // manifests ride along with added_snapshot_id=1 and their ORIGINAL
    // added counts intact — the shape that makes summary attribution
    // observable: summing every data manifest would inflate snap 2's
    // actuals by snap 1's); m2 adds f3,f4 and DELETES f5; m3 is the
    // DELETE manifest (content=1 at both layers)
    writeAvro(new java.io.File(metaDir, "m2.avro"), manifestSchema,
      Seq(entry(1, "f3.parquet"), entry(1, "f4.parquet"), entry(2, "f5.parquet")))
    writeAvro(new java.io.File(metaDir, "m3.avro"), manifestSchema,
      Seq(entry(1, "del0.parquet", content = 1,
        records = Some(deletedPositions))))

    def mlEntry(path: String, added: Int, existing: Int, deleted: Int,
        rows: Long, content: Int = 0,
        addedBySnap: Long = 1L): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("added_snapshot_id", addedBySnap)
      r.put("added_files_count", added)
      r.put("existing_files_count", existing)
      r.put("deleted_files_count", deleted)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 3, 0, 0,
        counts("f0.parquet") + counts("f1.parquet") + counts("f2.parquet"))))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 3, 0, 0,
        counts("f0.parquet") + counts("f1.parquet") + counts("f2.parquet"),
        addedBySnap = 1L),
        mlEntry("m2.avro", 2, 0, 1,
          counts("f3.parquet") + counts("f4.parquet"), addedBySnap = 2L),
        mlEntry("m3.avro", 1, 0, 0, deletedPositions, content = 1,
          addedBySnap = 2L)))

    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":2,
         |"current-schema-id":1,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]},
         |{"schema-id":1,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"},
         | {"id":3,"name":"n_chars","required":false,"type":"long"}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"overwrite"}}]}""".stripMargin
    java.nio.file.Files.write(new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A three-snapshot chain planting a TRANSIENT data file — the
   * changelog's hardest attribution case: snap 1 adds `f0`, snap 2
   * adds `fT`, snap 3 REMOVES fT (its status=2 entry rides the new
   * manifest, and the manifest that recorded the ADD is dropped from
   * snap 3's list — the vanishing-evidence shape a real delete
   * leaves) and adds `f2`. A (1,3] changelog must emit fT's rows
   * BOTH as insert and as delete; the add evidence survives only in
   * snap 2's own manifest list. parent-snapshot-id chain 1←2←3.
   * Returns rows per relative file.
   */
  /**
   * WIDE-RANGE transient stress fixture (r18): `2 + nAppends*2 + 2`
   * snapshots — f0 at snap 1, the transient `fT` added at snap 2,
   * `nAppends` single-file appends, a REPLACE snapshot compacting fT
   * into `fC`, `nAppends` more appends, and a final overwrite DELETING
   * fC. A changelog over the whole range must emit fT's rows exactly
   * once as inserts (the vanished-add recovery across 50+ intermediate
   * per-snapshot-complete lists) and exactly once as deletes (fC's
   * whole-file removal) — the compact-then-re-delete pair — plus the
   * plain appends; the intermediate walk stays one manifest-list read
   * per in-range snapshot, gated on the range's data removal. All
   * appended files are byte-copies of one slice (fixture cost stays
   * flat in snapshot count). Returns (counts per logical file,
   * total snapshot count).
   */
  def writeWideTransientFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame,
      nAppends: Int): (Map[String, Long], Long) = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val sliceA = docs.orderBy(col("doc_id")).limit(5)
      .select(col("doc_id"), col("lang"))
    val sliceB = docs.orderBy(col("doc_id").desc).limit(5)
      .select(col("doc_id"), col("lang"))
    val rowsA = FixtureIO.writeSingleParquet(sliceA,
      new java.io.File(dataDir, "f0.parquet"))
    val rowsB = FixtureIO.writeSingleParquet(sliceB,
      new java.io.File(dataDir, "fT.parquet"))
    def copy(from: String, to: String): Unit =
      java.nio.file.Files.copy(
        new java.io.File(dataDir, from).toPath,
        new java.io.File(dataDir, to).toPath)
    copy("fT.parquet", "fC.parquet")
    val replaceSnap = 2L + nAppends + 1
    val lastSnap = replaceSnap + nAppends + 1
    val appendSnaps =
      (3L to (replaceSnap - 1)) ++ ((replaceSnap + 1) to (lastSnap - 1))
    appendSnaps.foreach(i => copy("f0.parquet", s"f$i.parquet"))
    def entry(status: Int, f: String,
        rows: Long): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", rows)
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", status)
      e.put("snapshot_id", null) // inherits the manifest's snapshot
      e.put("data_file", df)
      e
    }
    def mlEntry(path: String, added: Int, deleted: Int, rows: Long,
        addedBySnap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(
        manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("added_snapshot_id", addedBySnap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", deleted)
      r.put("added_rows_count", rows)
      r
    }
    // one manifest per write; the replace manifest carries fC's add +
    // fT's aged-out delete entry; the final delete manifest carries
    // fC's delete entry only
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry(1, "f0.parquet", rowsA)))
    writeAvro(new java.io.File(metaDir, "mT.avro"), manifestSchema,
      Seq(entry(1, "fT.parquet", rowsB)))
    appendSnaps.foreach { i =>
      writeAvro(new java.io.File(metaDir, s"m$i.avro"), manifestSchema,
        Seq(entry(1, s"f$i.parquet", rowsA)))
    }
    writeAvro(new java.io.File(metaDir, "mC.avro"), manifestSchema,
      Seq(entry(1, "fC.parquet", rowsB), entry(2, "fT.parquet", rowsB)))
    writeAvro(new java.io.File(metaDir, "mDel.avro"), manifestSchema,
      Seq(entry(2, "fC.parquet", rowsB)))
    // per-snapshot-complete manifest lists
    def listAt(snap: Long): Seq[org.apache.avro.generic.GenericRecord] = {
      val base = Seq(mlEntry("m0.avro", 1, 0, rowsA, 1L)) ++
        (if (snap >= 2 && snap < replaceSnap)
          Seq(mlEntry("mT.avro", 1, 0, rowsB, 2L)) else Seq.empty) ++
        appendSnaps.filter(_ <= snap).map(i =>
          mlEntry(s"m$i.avro", 1, 0, rowsA, i)) ++
        (if (snap >= replaceSnap && snap < lastSnap)
          Seq(mlEntry("mC.avro", 1, 1, rowsB, replaceSnap)) else Seq.empty) ++
        (if (snap == lastSnap)
          Seq(mlEntry("mDel.avro", 0, 1, 0L, lastSnap)) else Seq.empty)
      base
    }
    (1L to lastSnap).foreach { s =>
      writeAvro(new java.io.File(metaDir, s"snap-$s.avro"),
        manifestListSchema, listAt(s))
    }
    val ts0 = 1700000000000L
    val snapsJson = (1L to lastSnap).map { s =>
      val op =
        if (s == replaceSnap) "replace"
        else if (s == lastSnap) "overwrite"
        else "append"
      val parent =
        if (s == 1L) "" else s""""parent-snapshot-id":${s - 1},"""
      s"""{"snapshot-id":$s,"timestamp-ms":${ts0 + s * 1000},$parent
         |"manifest-list":"metadata/snap-$s.avro",
         |"summary":{"operation":"$op"}}""".stripMargin.replace("\n", "")
    }.mkString(",")
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-widetransient",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":$lastSnap,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"snapshots":[$snapsJson]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (Map("f0.parquet" -> rowsA, "fT.parquet" -> rowsB,
      "fC.parquet" -> rowsB, "appends" -> rowsA * appendSnaps.size),
      lastSnap)
  }

  def writeTransientFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val slices = Seq("f0.parquet" -> 0, "fT.parquet" -> 1, "f2.parquet" -> 2)
    val counts = slices.map { case (rel, i) =>
      val slice = docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("lang"))
      rel -> FixtureIO.writeSingleParquet(slice,
        new java.io.File(dataDir, rel))
    }.toMap
    def entry(status: Int, f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", status)
      e.put("snapshot_id", null) // inherits the manifest's snapshot
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry(1, "f0.parquet")))
    writeAvro(new java.io.File(metaDir, "m1.avro"), manifestSchema,
      Seq(entry(1, "fT.parquet")))
    // snap 3's manifest: the new add plus fT's DELETED entry (the
    // delete rewrote m1 away — fT's ADD evidence is gone from this list)
    writeAvro(new java.io.File(metaDir, "m2.avro"), manifestSchema,
      Seq(entry(1, "f2.parquet"), entry(2, "fT.parquet")))
    def mlEntry(path: String, added: Int, deleted: Int, rows: Long,
        addedBySnap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("added_snapshot_id", addedBySnap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", deleted)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 1, 0, counts("f0.parquet"), 1L)))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 1, 0, counts("f0.parquet"), 1L),
        mlEntry("m1.avro", 1, 0, counts("fT.parquet"), 2L)))
    writeAvro(new java.io.File(metaDir, "snap-3.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 1, 0, counts("f0.parquet"), 1L),
        mlEntry("m2.avro", 1, 1, counts("f2.parquet"), 3L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-transient",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":3,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "parent-snapshot-id":1,
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":3,"timestamp-ms":${ts0 + 2000},
         | "parent-snapshot-id":2,
         | "manifest-list":"metadata/snap-3.avro",
         | "summary":{"operation":"overwrite"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /** The format-v3 manifest shape: `data_file` grows the DV span
    * fields (`referenced_data_file`, `content_offset`,
    * `content_size_in_bytes`), null on ordinary data entries. */
  private[meta] val dvManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"referenced_data_file","type":["null","string"],"default":null},
      |  {"name":"content_offset","type":["null","long"],"default":null},
      |  {"name":"content_size_in_bytes","type":["null","long"],"default":null}]}}]}""".stripMargin)

  /**
   * A format-v3 filesystem table against the public spec: two
   * doc_id-sorted parquet slices (`f0`, `f1`, doc_id parity) under
   * `data/`, ONE snapshot whose manifest list carries a data manifest
   * (both files added) plus a DELETE manifest (`content=1`) whose two
   * entries are PUFFIN deletion vectors — both blobs live in the one
   * `data/dv0.puffin` file (the v3 writer layout: DVs of a commit
   * share a Puffin file, addressed by `content_offset` /
   * `content_size_in_bytes`). The vectors delete positions 1,3,5 of
   * f0 and 0,2 of f1; each entry's `record_count` is its DV
   * cardinality. Returns per-data-file row counts.
   */
  def writeDvFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()

    val counts = (0 to 1).map { parity =>
      val rel = s"f$parity.parquet"
      val slice = docs.filter(pmod(col("doc_id"), lit(2)) === parity)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
      rel -> FixtureIO.writeSingleParquet(slice, new java.io.File(dataDir, rel))
    }.toMap

    // one Puffin file, two deletion-vector-v1 blobs (f0's and f1's)
    val dv0 = Array(1L, 3L, 5L)
    val dv1 = Array(0L, 2L)
    val spans = PuffinCodec.writePuffinFile(
      new java.io.File(dataDir, "dv0.puffin"),
      Seq(dv0, dv1).map(p => (PuffinCodec.DeletionVectorV1,
        Map("cardinality" -> p.length.toString),
        PuffinCodec.encodeDvBlob(p))))

    def dataEntry(f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        dvManifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(dvManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    def dvEntry(refFile: String, span: (Long, Long),
        cardinality: Long): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        dvManifestSchema.getField("data_file").schema())
      df.put("content", 1)
      df.put("file_path", "data/dv0.puffin")
      df.put("file_format", "PUFFIN")
      df.put("record_count", cardinality)
      df.put("file_size_in_bytes", new java.io.File(dataDir, "dv0.puffin").length())
      df.put("referenced_data_file", s"data/$refFile")
      df.put("content_offset", span._1)
      df.put("content_size_in_bytes", span._2)
      val e = new org.apache.avro.generic.GenericData.Record(dvManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), dvManifestSchema,
      Seq(dataEntry("f0.parquet"), dataEntry("f1.parquet")))
    writeAvro(new java.io.File(metaDir, "m1.avro"), dvManifestSchema,
      Seq(dvEntry("f0.parquet", spans(0), dv0.length.toLong),
        dvEntry("f1.parquet", spans(1), dv1.length.toLong)))
    def mlEntry(path: String, added: Int, rows: Long,
        content: Int): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("added_snapshot_id", 1L)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 2, counts.values.sum, 0),
        mlEntry("m1.avro", 2, dv0.length.toLong + dv1.length.toLong, 1)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":3,"table-uuid":"graft-iceberg-dv-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"delete"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A three-snapshot format-v3 chain for the ROW-LEVEL changelog's
   * deletion-vector resolution:
   *
   *  - snap 1: `m0` adds data files f0/f1 (doc_id parity slices);
   *  - snap 2 (parent 1): `m1` appends Puffin DVs — f0 loses
   *    positions {1,3,5}, f1 loses {0,2} (both blobs in
   *    `data/dv0.puffin`);
   *  - snap 3 (parent 2): `m2` SUPERSEDES f0's vector — the old entry
   *    rides as status=2 and a new `data/dv1.puffin` blob widens the
   *    deletes to {1,3,5,7}, so the (2,3] changelog must emit ONLY
   *    position 7.
   *
   * Returns per-data-file row counts.
   */
  def writeDvChangelogFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val counts = (0 to 1).map { parity =>
      val rel = s"f$parity.parquet"
      rel -> FixtureIO.writeSingleParquet(
        docs.filter(pmod(col("doc_id"), lit(2)) === parity)
          .select(col("doc_id"), col("lang")).orderBy(col("doc_id")),
        new java.io.File(dataDir, rel))
    }.toMap
    require(counts.values.forall(_ > 8),
      s"dv-changelog fixture needs >8 rows per slice, got $counts")
    val dv0f0 = Array(1L, 3L, 5L)
    val dv0f1 = Array(0L, 2L)
    val dv1f0 = Array(1L, 3L, 5L, 7L)
    val spans0 = PuffinCodec.writePuffinFile(
      new java.io.File(dataDir, "dv0.puffin"),
      Seq(dv0f0, dv0f1).map(p => (PuffinCodec.DeletionVectorV1,
        Map("cardinality" -> p.length.toString),
        PuffinCodec.encodeDvBlob(p))))
    val spans1 = PuffinCodec.writePuffinFile(
      new java.io.File(dataDir, "dv1.puffin"),
      Seq((PuffinCodec.DeletionVectorV1,
        Map("cardinality" -> dv1f0.length.toString),
        PuffinCodec.encodeDvBlob(dv1f0))))
    def dataEntry(f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        dvManifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(dvManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    def dvEntry(status: Int, puffin: String, refFile: String,
        span: (Long, Long), cardinality: Long, snap: Long):
        org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        dvManifestSchema.getField("data_file").schema())
      df.put("content", 1)
      df.put("file_path", s"data/$puffin")
      df.put("file_format", "PUFFIN")
      df.put("record_count", cardinality)
      df.put("file_size_in_bytes",
        new java.io.File(dataDir, puffin).length())
      df.put("referenced_data_file", s"data/$refFile")
      df.put("content_offset", span._1)
      df.put("content_size_in_bytes", span._2)
      val e = new org.apache.avro.generic.GenericData.Record(dvManifestSchema)
      e.put("status", status)
      e.put("snapshot_id", snap)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), dvManifestSchema,
      Seq(dataEntry("f0.parquet"), dataEntry("f1.parquet")))
    writeAvro(new java.io.File(metaDir, "m1.avro"), dvManifestSchema,
      Seq(dvEntry(1, "dv0.puffin", "f0.parquet", spans0(0),
        dv0f0.length.toLong, 2L),
        dvEntry(1, "dv0.puffin", "f1.parquet", spans0(1),
          dv0f1.length.toLong, 2L)))
    // snap 3's delete manifest: f0's OLD vector removed (status 2,
    // deleted by snap 3), the widened one added; f1's rides as
    // existing (status 0, still owned by snap 2)
    writeAvro(new java.io.File(metaDir, "m2.avro"), dvManifestSchema,
      Seq(dvEntry(2, "dv0.puffin", "f0.parquet", spans0(0),
        dv0f0.length.toLong, 3L),
        dvEntry(1, "dv1.puffin", "f0.parquet", spans1(0),
          dv1f0.length.toLong, 3L),
        dvEntry(0, "dv0.puffin", "f1.parquet", spans0(1),
          dv0f1.length.toLong, 2L)))
    def mlEntry(path: String, added: Int, rows: Long, content: Int,
        addedBy: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(
        manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("added_snapshot_id", addedBy)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r
    }
    val m0Rows = counts.values.sum
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 2, m0Rows, 0, 1L)))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 2, m0Rows, 0, 1L),
        mlEntry("m1.avro", 2, 5L, 1, 2L)))
    writeAvro(new java.io.File(metaDir, "snap-3.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 2, m0Rows, 0, 1L),
        mlEntry("m2.avro", 1, 4L, 1, 3L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":3,"table-uuid":"graft-iceberg-dv-changelog",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":3,
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "parent-snapshot-id":1,
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"delete"}},
         |{"snapshot-id":3,"timestamp-ms":${ts0 + 2000},
         | "parent-snapshot-id":2,
         | "manifest-list":"metadata/snap-3.avro",
         | "summary":{"operation":"delete"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /** The format-v2 manifest shape for EQUALITY deletes: `data_file`
    * grows `equality_ids` (the spec's field-id list), null on ordinary
    * data entries. */
  private[meta] val eqManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""".stripMargin)

  /** [[eqManifestSchema]] plus the typed `partition` record (r102) —
    * the shape a PARTITIONED spec's writer produces for both its data
    * files and its partition-scoped equality deletes. */
  private[meta] val eqPartManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"partition","type":{"type":"record","name":"r102","fields":[
      |    {"name":"lang","type":"string"}]}},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}]}}]}""".stripMargin)

  /** The v2 manifest-LIST shape with per-manifest data sequence
    * numbers (spec: `sequence_number`), which entries inherit when
    * ADDED with a null of their own. */
  private[meta] val seqManifestListSchema = avroSchema(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":["null","long"],"default":null},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"added_files_count","type":"int"},
      |{"name":"existing_files_count","type":"int"},
      |{"name":"deleted_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"}]}""".stripMargin)

  /**
   * A format-v2 filesystem table with EQUALITY deletes (the Flink
   * merge-on-read shape) against the public spec: two parity slices of
   * `docs` (`f0`, `f1`: doc_id, lang — lang NULLED for doc_ids 0 and 8
   * so null-key matching is exercised) added at SEQUENCE 1, then a
   * second snapshot at SEQUENCE 2 carrying BOTH a DELETE manifest
   * (`content=1`) of two equality-delete PARQUET files and a new data
   * file `f2.parquet` whose three rows all MATCH delete keys — the
   * strictly-less sequence scope means every f2 row must SURVIVE (a
   * commit's own data is never hit by its own deletes):
   *
   *  - `eq0.parquet`, `equality_ids=[1]` (doc_id): rows 0, 1, 2 and a
   *    -1 that matches nothing;
   *  - `eq1.parquet`, `equality_ids=[1,2]` (doc_id, lang): doc 4 with
   *    its REAL lang (matches), doc 6 with a wrong lang (no match),
   *    and doc 8 with NULL lang (matches — null equals null under the
   *    spec's delete semantics).
   *
   * The schema declares field 3 `score` (double) that no file carries,
   * so a test can plant `equality_ids=[3]` and pin the float/double
   * refusal. Returns per-data-file row counts.
   */
  def writeEqDeleteFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()

    def writeOne(df: DataFrame, rel: String): Long =
      FixtureIO.writeSingleParquet(df, new java.io.File(dataDir, rel))
    val base = docs.select(col("doc_id"),
      when(col("doc_id").isin(0L, 8L), lit(null).cast("string"))
        .otherwise(col("lang")).as("lang"))
    val counts = (0 to 1).map { parity =>
      val rel = s"f$parity.parquet"
      rel -> writeOne(
        base.filter(pmod(col("doc_id"), lit(2)) === parity), rel)
    }.toMap
    val lang4 = docs.filter(col("doc_id") === 4L)
      .select(col("lang")).head().getString(0)
    locally {
      import spark.implicits._
      val eq0 = Seq(0L, 1L, 2L, -1L).toDF("doc_id")
      // (0, NULL) ALSO matches doc 0 (already deleted by eq0): the
      // row is reported under both id sets, but a net census must
      // subtract it ONCE (distinct positions)
      val eq1 = Seq((4L, Option(lang4)), (6L, Some("xx-no-such")),
        (8L, None: Option[String]), (0L, None: Option[String]))
        .toDF("doc_id", "lang")
      writeOne(eq0, "eq0.parquet")
      writeOne(eq1, "eq1.parquet")
      // f2: LATE arrivals (sequence 2, same commit as the deletes) —
      // every row re-uses a key the deletes match, and every row must
      // survive the strictly-less sequence scope
      val f2 = Seq((0L, None: Option[String]), (4L, Option(lang4)),
        (8L, None: Option[String])).toDF("doc_id", "lang")
      writeOne(f2, "f2.parquet")
    }

    def entry(f: String, content: Int, records: Long,
        eqIds: Seq[Int]): org.apache.avro.generic.GenericRecord = {
      val dfSchema = eqManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", content)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", records)
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      if (eqIds.nonEmpty) {
        import scala.jdk.CollectionConverters._
        df.put("equality_ids",
          new org.apache.avro.generic.GenericData.Array[Integer](
            dfSchema.getField("equality_ids").schema().getTypes.get(1),
            eqIds.map(Integer.valueOf).asJava))
      }
      val e = new org.apache.avro.generic.GenericData.Record(eqManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), eqManifestSchema,
      Seq(entry("f0.parquet", 0, counts("f0.parquet"), Nil),
        entry("f1.parquet", 0, counts("f1.parquet"), Nil)))
    writeAvro(new java.io.File(metaDir, "m1.avro"), eqManifestSchema,
      Seq(entry("eq0.parquet", 2, 4L, Seq(1)),
        entry("eq1.parquet", 2, 3L, Seq(1, 2))))
    writeAvro(new java.io.File(metaDir, "m2.avro"), eqManifestSchema,
      Seq(entry("f2.parquet", 0, 3L, Nil)))
    def mlEntry(path: String, added: Int, rows: Long, content: Int,
        seq: Long, snap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(seqManifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("added_snapshot_id", snap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), seqManifestListSchema,
      Seq(mlEntry("m0.avro", 2,
        counts("f0.parquet") + counts("f1.parquet"), 0, 1L, 1L)))
    // snap 2 (sequence 2): m0 reused verbatim, the delete manifest, and
    // the same-commit data file f2 — both at sequence 2, so the deletes
    // scope to sequence-1 files only
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), seqManifestListSchema,
      Seq(mlEntry("m0.avro", 2,
        counts("f0.parquet") + counts("f1.parquet"), 0, 1L, 1L),
        mlEntry("m2.avro", 1, 3L, 0, 2L, 2L),
        mlEntry("m1.avro", 2, 7L, 1, 2L, 2L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-eq-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":2,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"},
         | {"id":3,"name":"score","required":false,"type":"double"}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"overwrite"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts + ("f2.parquet" -> 3L)
  }

  /**
   * The equality-delete fixture plus a POSITION delete in the same
   * snapshot — the both-shapes table only [[mergedNetCensus]] serves:
   * `pd0.parquet` (a real v2 position-delete parquet) removes f0's
   * positions 0 and 5 — 0 ALSO dies to an equality key (the overlap a
   * merged census must count once) while 5 dies to the position delete
   * alone (the proof the merge adds evidence). Carried by a new delete
   * manifest `m3.avro` appended to snap-2's manifest list at
   * sequence 2. Returns per-data-file row counts.
   */
  def writeMergedDeleteFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeEqDeleteFixtureTable(spark, dir, docs)
    val dataDir = new java.io.File(dir, "data")
    val metaDir = new java.io.File(dir, "metadata")
    val f0Abs = new java.io.File(dataDir, "f0.parquet").getAbsolutePath
    locally {
      import spark.implicits._
      FixtureIO.writeSingleParquet(
        Seq((f0Abs, 0L), (f0Abs, 5L)).toDF("file_path", "pos"),
        new java.io.File(dataDir, "pd0.parquet"))
    }
    val m3 = new java.io.File(metaDir, "m3.avro")
    locally {
      val dfSchema = eqManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 1)
      df.put("file_path", "data/pd0.parquet")
      df.put("file_format", "PARQUET")
      df.put("record_count", 2L)
      df.put("file_size_in_bytes",
        new java.io.File(dataDir, "pd0.parquet").length())
      val e = new org.apache.avro.generic.GenericData.Record(eqManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      writeAvro(m3, eqManifestSchema, Seq(e))
    }
    // append m3 to snap-2's manifest list (sequence 2, snapshot 2)
    val ml = new java.io.File(metaDir, "snap-2.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      ml, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val recs = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) recs += reader.next()
    val mlSchema = reader.getSchema
    reader.close()
    val entry = new org.apache.avro.generic.GenericData.Record(mlSchema)
    entry.put("manifest_path", "metadata/m3.avro")
    entry.put("manifest_length", m3.length())
    entry.put("partition_spec_id", 0)
    entry.put("content", 1)
    entry.put("sequence_number", 2L)
    entry.put("added_snapshot_id", 2L)
    entry.put("added_files_count", 1)
    entry.put("existing_files_count", 0)
    entry.put("deleted_files_count", 0)
    entry.put("added_rows_count", 2L)
    writeAvro(ml, mlSchema, recs.toSeq :+ entry)
    counts
  }

  /**
   * A PARTITIONED format-v2 table with BOTH equality-delete scopes —
   * the over-deletion trap partition scoping exists to dodge: two
   * `lang` partitions (the first two langs of `docs`, sorted) whose
   * data files carry `(key, lang)` where `key = doc_id % 50` — so the
   * SAME key values live in BOTH partitions — all at sequence 1, then
   * a second snapshot (sequence 2) adding
   *
   *  - `eq_part.parquet` (keys 0, 1, 2), `equality_ids=[1]`, written
   *    under the PARTITIONED spec with partition tuple `{lang=A}` —
   *    it must delete those keys from `fA.parquet` ONLY; the same
   *    keys in `fB.parquet` are the cross-partition survivors a
   *    table-wide application would silently kill;
   *  - `eq_glob.parquet` (key 7), `equality_ids=[1]`, written under
   *    the UNPARTITIONED spec (its manifest entry carries no
   *    partition field) — a GLOBAL delete that reaches both
   *    partitions.
   *
   * Layout: `data/lang=<A>/fA.parquet`, `data/lang=<B>/fB.parquet`,
   * deletes at `data/`. Returns per-data-file row counts keyed by
   * basename.
   */
  def writeEqDeletePartitionedFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val langs = docs.filter(col("lang").isNotNull).select("lang")
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(langs.size >= 2,
      s"partitioned eq fixture needs >= 2 langs, got ${langs.size}")
    val (langA, langB) = (langs.head, langs(1))
    def writeOne(df: DataFrame, rel: String): Long = {
      val dst = new java.io.File(dataDir, rel)
      dst.getParentFile.mkdirs()
      FixtureIO.writeSingleParquet(df, dst)
    }
    val keyed = docs.select(
      pmod(col("doc_id"), lit(50)).cast("long").as("key"), col("lang"))
    val counts = Map(
      "fA.parquet" -> writeOne(
        keyed.filter(col("lang") === langA), s"lang=$langA/fA.parquet"),
      "fB.parquet" -> writeOne(
        keyed.filter(col("lang") === langB), s"lang=$langB/fB.parquet"))
    locally {
      import spark.implicits._
      writeOne(Seq(0L, 1L, 2L).toDF("key"), "eq_part.parquet")
      writeOne(Seq(7L).toDF("key"), "eq_glob.parquet")
    }
    def entry(schema: org.apache.avro.Schema, rel: String, content: Int,
        records: Long, lang: Option[String],
        eqIds: Seq[Int]): org.apache.avro.generic.GenericRecord = {
      val dfSchema = schema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", content)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      lang.foreach { l =>
        val pr = new org.apache.avro.generic.GenericData.Record(
          dfSchema.getField("partition").schema())
        pr.put("lang", l)
        df.put("partition", pr)
      }
      df.put("record_count", records)
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      if (eqIds.nonEmpty) {
        import scala.jdk.CollectionConverters._
        df.put("equality_ids",
          new org.apache.avro.generic.GenericData.Array[Integer](
            dfSchema.getField("equality_ids").schema().getTypes.get(1),
            eqIds.map(Integer.valueOf).asJava))
      }
      val e = new org.apache.avro.generic.GenericData.Record(schema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), eqPartManifestSchema,
      Seq(entry(eqPartManifestSchema, s"lang=$langA/fA.parquet", 0,
          counts("fA.parquet"), Some(langA), Nil),
        entry(eqPartManifestSchema, s"lang=$langB/fB.parquet", 0,
          counts("fB.parquet"), Some(langB), Nil)))
    writeAvro(new java.io.File(metaDir, "m1.avro"), eqPartManifestSchema,
      Seq(entry(eqPartManifestSchema, "eq_part.parquet", 2, 3L,
        Some(langA), Seq(1))))
    writeAvro(new java.io.File(metaDir, "m2.avro"), eqManifestSchema,
      Seq(entry(eqManifestSchema, "eq_glob.parquet", 2, 1L, None, Seq(1))))
    def mlEntry(path: String, added: Int, rows: Long, content: Int,
        seq: Long, snap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(seqManifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("added_snapshot_id", snap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), seqManifestListSchema,
      Seq(mlEntry("m0.avro", 2, counts.values.sum, 0, 1L, 1L)))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), seqManifestListSchema,
      Seq(mlEntry("m0.avro", 2, counts.values.sum, 0, 1L, 1L),
        mlEntry("m1.avro", 1, 3L, 1, 2L, 2L),
        mlEntry("m2.avro", 1, 1L, 1, 2L, 2L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-eqpart-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":2,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"key","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"overwrite"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A COMPACTED table — the shape snapshot expiry exists to reclaim:
   * snap 1 (m0) adds two parity slices `f0`/`f1`; snap 2 (the current
   * one, manifest list = `m1` ONLY, m0 not reused) is the compaction
   * rewrite — `c0.parquet` (all rows) ADDED, f0/f1 carried as
   * status=DELETED entries. Expiring snap 1 must free exactly
   * `snap-1.avro` + `m0.avro` + `f0`/`f1` while `c0` (and `m1`,
   * `snap-2.avro`) stay. Returns per-data-file row counts.
   */
  def writeCompactedFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    def writeOne(df: DataFrame, rel: String): Long =
      FixtureIO.writeSingleParquet(df, new java.io.File(dataDir, rel))
    val base = docs.select(col("doc_id"), col("lang"))
    val counts = Map(
      "f0.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(2)) === 0),
        "f0.parquet"),
      "f1.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(2)) === 1),
        "f1.parquet"),
      "c0.parquet" -> writeOne(base, "c0.parquet"))
    def entry(status: Int, f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", status)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry(1, "f0.parquet"), entry(1, "f1.parquet")))
    writeAvro(new java.io.File(metaDir, "m1.avro"), manifestSchema,
      Seq(entry(1, "c0.parquet"),
        entry(2, "f0.parquet"), entry(2, "f1.parquet")))
    def mlEntry(path: String, added: Int, deleted: Int, rows: Long,
        snap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("added_snapshot_id", snap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", deleted)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 2, 0,
        counts("f0.parquet") + counts("f1.parquet"), 1L)))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), manifestListSchema,
      Seq(mlEntry("m1.avro", 1, 2, counts("c0.parquet"), 2L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-compacted",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":2,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"replace"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * The compacted fixture plus STATISTICS files on both snapshots:
   * `metadata/stats-1.puffin` + `metadata/partition-stats-1.parquet`
   * keyed to the EXPIRED snap 1 (both must land in the expiry plan as
   * `kind=statistics`) and `metadata/stats-2.puffin` keyed to the
   * surviving snap 2 (must NOT). Declared `file-size-in-bytes` match
   * the real files. Returns per-data-file row counts.
   */
  def writeExpiryStatsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeCompactedFixtureTable(spark, dir, docs)
    val metaDir = new java.io.File(dir, "metadata")
    val s1 = new java.io.File(metaDir, "stats-1.puffin")
    val s2 = new java.io.File(metaDir, "stats-2.puffin")
    PuffinCodec.writePuffinFile(s1, Seq(
      (PuffinCodec.ThetaV1, Map("ndv" -> "7"),
        PuffinCodec.encodeThetaSketchExact(7L))),
      snapshotId = 1L, sequenceNumber = 1L)
    PuffinCodec.writePuffinFile(s2, Seq(
      (PuffinCodec.ThetaV1, Map("ndv" -> "9"),
        PuffinCodec.encodeThetaSketchExact(9L))),
      snapshotId = 2L, sequenceNumber = 2L)
    val ps1 = new java.io.File(metaDir, "partition-stats-1.parquet")
    locally {
      import spark.implicits._
      FixtureIO.writeSingleParquet(
        Seq((1L, counts("f0.parquet") + counts("f1.parquet")))
          .toDF("snapshot_id", "row_count"),
        ps1)
    }
    val mf = new java.io.File(metaDir, "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val statsJson =
      s""""statistics":[
         |{"snapshot-id":1,"statistics-path":"metadata/stats-1.puffin",
         | "file-size-in-bytes":${s1.length()},"blob-metadata":[]},
         |{"snapshot-id":2,"statistics-path":"metadata/stats-2.puffin",
         | "file-size-in-bytes":${s2.length()},"blob-metadata":[]}],
         |"partition-statistics":[
         |{"snapshot-id":1,
         | "statistics-path":"metadata/partition-stats-1.parquet",
         | "file-size-in-bytes":${ps1.length()}}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + statsJson)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A table whose PARTITION SPEC EVOLVED: snap 1 (m0, spec 0 —
   * unpartitioned) adds `f0`/`f1`; snap 2 (current) keeps m0 and adds
   * m1 under spec 1 (`lang` identity) with `p0`/`p1`. The metadata
   * declares both specs with `default-spec-id: 1` — so f0/f1 are the
   * backfill candidates [[partitionSpecAudit]] must flag. Returns
   * per-data-file row counts.
   */
  def writeSpecEvolutionFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    def writeOne(df: DataFrame, rel: String): Long =
      FixtureIO.writeSingleParquet(df, new java.io.File(dataDir, rel))
    val base = docs.select(col("doc_id"), col("lang"))
    val counts = Map(
      "f0.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(4)) === 0),
        "f0.parquet"),
      "f1.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(4)) === 1),
        "f1.parquet"),
      "p0.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(4)) === 2),
        "p0.parquet"),
      "p1.parquet" -> writeOne(base.filter(pmod(col("doc_id"), lit(4)) === 3),
        "p1.parquet"))
    def entry(f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry("f0.parquet"), entry("f1.parquet")))
    writeAvro(new java.io.File(metaDir, "m1.avro"), manifestSchema,
      Seq(entry("p0.parquet"), entry("p1.parquet")))
    def mlEntry(path: String, specId: Int, added: Int, rows: Long,
        snap: Long): org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", specId)
      r.put("content", 0)
      r.put("added_snapshot_id", snap)
      r.put("added_files_count", added)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 0, 2,
        counts("f0.parquet") + counts("f1.parquet"), 1L)))
    writeAvro(new java.io.File(metaDir, "snap-2.avro"), manifestListSchema,
      Seq(mlEntry("m0.avro", 0, 2,
        counts("f0.parquet") + counts("f1.parquet"), 1L),
        mlEntry("m1.avro", 1, 2,
          counts("p0.parquet") + counts("p1.parquet"), 2L)))
    val ts0 = 1700000000000L
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-specs",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":2,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"default-spec-id":1,
         |"partition-specs":[
         |{"spec-id":0,"fields":[]},
         |{"spec-id":1,"fields":[
         | {"name":"lang","transform":"identity","source-id":2,
         |  "field-id":1000}]}],
         |"snapshots":[
         |{"snapshot-id":1,"timestamp-ms":$ts0,
         | "manifest-list":"metadata/snap-1.avro",
         | "summary":{"operation":"append"}},
         |{"snapshot-id":2,"timestamp-ms":${ts0 + 1000},
         | "manifest-list":"metadata/snap-2.avro",
         | "summary":{"operation":"append"}}]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A table DECLARING a write order (`sort-orders` order-id 1:
   * identity(doc_id) asc nulls-first, named by
   * `default-sort-order-id`; the unsorted order-id 0 is also listed,
   * as real writers do) whose data MOSTLY honors it: four doc_id
   * quartile files f0..f3 — except the SECOND-smallest doc is planted
   * in f2, so f2's min dips into f0's range and the interval audit
   * must flag f2 (and the f1 it now shadows) as out of order while f0
   * and f3 stay clean. One snapshot, one manifest. Returns
   * per-data-file row counts.
   */
  def writeSortOrderFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val n = docs.count()
    require(n >= 8, s"sort-order fixture needs >= 8 docs, got $n")
    // global rank at fixture scale (one-partition window is the cost
    // of a deterministic quartile split)
    val ranked = docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          // constant-valued but NON-foldable key: one partition (the
          // global rank needs it; fixture scale) without the
          // WindowExec no-partition warning a folded literal trips
          .partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("doc_id"))))
    val assigned = ranked.withColumn("f",
      when(col("rk") === 2, lit(2)) // the planted out-of-order straggler
        .otherwise(floor((col("rk") - 1) * 4 / lit(n)).cast("int")))
    val counts = (0 until 4).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        assigned.filter(col("f") === i).select("doc_id", "lang")
          .sort("doc_id"),
        new java.io.File(dataDir, rel))
    }.toMap
    def entry(f: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = manifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      (0 until 4).map(i => entry(s"f$i.parquet")))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", 4)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-sortorder-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"default-sort-order-id":1,
         |"sort-orders":[
         |{"order-id":0,"fields":[]},
         |{"order-id":1,"fields":[
         | {"transform":"identity","source-id":1,
         |  "direction":"asc","null-order":"nulls-first"}]}],
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
    counts
  }

  /**
   * The base fixture with SUMMARY METRICS on both snapshots (string
   * values, the spec's rendering): snap 1 declares its true
   * `added-data-files`/`added-records`; snap 2's `added-records` LIES
   * by one — the audit must flag exactly that cell. Returns per-file
   * row counts.
   */
  def writeSummaryFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val mf = new java.io.File(dir, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val rows1 = counts("f0.parquet") + counts("f1.parquet") + counts("f2.parquet")
    val rows2 = counts("f3.parquet") + counts("f4.parquet")
    val m1 = "\"summary\":{\"operation\":\"append\"}"
    val m2 = "\"summary\":{\"operation\":\"overwrite\"}"
    require(txt.contains(m1) && txt.contains(m2), "fixture summaries changed")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(m1, "\"summary\":{\"operation\":\"append\"," +
          s""""added-data-files":"3","added-records":"$rows1"}""")
        .replace(m2, "\"summary\":{\"operation\":\"overwrite\"," +
          s""""added-data-files":"2","added-records":"${rows2 + 1}"}""")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * The base fixture plus an NDV-bearing STATISTICS file: two REAL
   * compact-theta sketches (exact mode, [[PuffinCodec
   * .encodeThetaSketchExact]]) in `metadata/ndv-2.puffin` —
   *
   *  - fields=[2] (`lang`): the sketch encodes the TRUE distinct lang
   *    count over the current snapshot's data files (f0..f4, the
   *    writer contract), but the declared `ndv` property LIES by +3;
   *  - fields=[1] (`doc_id`): sketch and declared `ndv` agree.
   *
   * The audit must flag exactly the lang row. Returns per-data-file
   * row counts.
   */
  def writeNdvFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame,
      blobCodec: Option[String] = None,
      lz4Footer: Boolean = false): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    // the current snapshot's data rows: slices 0..4 of the pmod-6 split
    val live = docs.filter(pmod(col("doc_id"), lit(6)) < 5)
    val langNdv = live.select(col("lang")).distinct().count()
    val docNdv = live.select(col("doc_id")).distinct().count()
    val metaDir = new java.io.File(dir, "metadata")
    val stats = new java.io.File(metaDir, "ndv-2.puffin")
    PuffinCodec.writePuffinFile(stats, Seq(
      (PuffinCodec.ThetaV1, Map("ndv" -> (langNdv + 3).toString),
        PuffinCodec.encodeThetaSketchExact(langNdv)),
      (PuffinCodec.ThetaV1, Map("ndv" -> docNdv.toString),
        PuffinCodec.encodeThetaSketchExact(docNdv))),
      snapshotId = 2L, sequenceNumber = 2L,
      fieldsPerBlob = Seq(Seq(2), Seq(1)),
      codecPerBlob = Seq(blobCodec, blobCodec),
      lz4Footer = lz4Footer)
    val mf = new java.io.File(metaDir, "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val statsJson =
      s""""statistics":[{"snapshot-id":2,
         |"statistics-path":"metadata/ndv-2.puffin",
         |"file-size-in-bytes":${stats.length()},
         |"blob-metadata":[
         |{"type":"apache-datasketches-theta-v1","snapshot-id":2,
         | "sequence-number":2,"fields":[2],
         | "properties":{"ndv":"${langNdv + 3}"}},
         |{"type":"apache-datasketches-theta-v1","snapshot-id":2,
         | "sequence-number":2,"fields":[1],
         | "properties":{"ndv":"$docNdv"}}]}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + statsJson)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /** [[manifestSchema]] plus the spec's r126/r128 value-bounds maps in
    * their array-of-(key,value) avro rendering. */
  private[meta] val boundsManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"lower_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k126_v127","fields":[
      |      {"name":"key","type":"int"},
      |      {"name":"value","type":"bytes"}]}}],"default":null},
      |  {"name":"upper_bounds","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k128_v129","fields":[
      |      {"name":"key","type":"int"},
      |      {"name":"value","type":"bytes"}]}}],"default":null}]}}]}"""
      .stripMargin)

  /**
   * A table whose manifest carries TRUTHFUL per-file `doc_id` value
   * bounds (single-value 8-byte little-endian, matching each file's
   * own footer stats — the cross-engine check of the binary decode):
   * four doc_id quartile files f0..f3 with bounds, plus `nb.parquet`
   * (the smallest 8 docs re-written) with NO bounds — the no-evidence
   * file pruning must never cut. One snapshot, one manifest. Returns
   * per-data-file row counts.
   */
  def writeBoundsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val n = docs.count()
    require(n >= 8, s"bounds fixture needs >= 8 docs, got $n")
    val ranked = docs.select(col("doc_id"), col("lang"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          // constant-valued but NON-foldable key: one partition (the
          // global rank needs it; fixture scale) without the
          // WindowExec no-partition warning a folded literal trips
          .partitionBy(pmod(col("doc_id"), lit(1)))
          .orderBy(col("doc_id"))))
    val bounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val counts = scala.collection.mutable.Map.empty[String, Long]
    for (i <- 0 until 4) {
      val rel = s"f$i.parquet"
      val slice = ranked
        .filter(floor((col("rk") - 1) * 4 / lit(n)).cast("int") === i)
        .select("doc_id", "lang").sort("doc_id")
      counts(rel) = FixtureIO.writeSingleParquet(
        slice, new java.io.File(dataDir, rel))
      val mm = slice.agg(min("doc_id"), max("doc_id")).head()
      bounds(rel) = (mm.getLong(0), mm.getLong(1))
    }
    counts("nb.parquet") = FixtureIO.writeSingleParquet(
      ranked.filter(col("rk") <= 8).select("doc_id", "lang").sort("doc_id"),
      new java.io.File(dataDir, "nb.parquet"))
    def le8(v: Long): java.nio.ByteBuffer = {
      val b = java.nio.ByteBuffer.allocate(8)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putLong(v); b.flip(); b
    }
    def entry(rel: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = boundsManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      bounds.get(rel).foreach { case (lo, hi) =>
        def kvArr(name: String, v: Long) = {
          val arrSchema = dfSchema.getField(name).schema().getTypes.get(1)
          val kv: org.apache.avro.generic.GenericRecord =
            new org.apache.avro.generic.GenericData.Record(
              arrSchema.getElementType)
          kv.put("key", 1) // doc_id's field id
          kv.put("value", le8(v))
          new org.apache.avro.generic.GenericData.Array[
            org.apache.avro.generic.GenericRecord](arrSchema,
            java.util.List.of(kv))
        }
        df.put("lower_bounds", kvArr("lower_bounds", lo))
        df.put("upper_bounds", kvArr("upper_bounds", hi))
      }
      val e = new org.apache.avro.generic.GenericData.Record(
        boundsManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    val rels = (0 until 4).map(i => s"f$i.parquet") :+ "nb.parquet"
    writeAvro(new java.io.File(metaDir, "m0.avro"), boundsManifestSchema,
      rels.map(entry))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", rels.size)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-bounds-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
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
    counts.toMap
  }

  /**
   * A table with DATE and DECIMAL columns whose manifest carries
   * TRUTHFUL per-file value bounds in the spec's typed single-value
   * serializations — the typed bounds-prune fixture: four date-ranked
   * quartile slices `t0..t3` of `(doc_id, d date, amount
   * decimal(10,2))` (d and amount both derive from doc_id, so the
   * quartiles cluster both columns); bounds are planted as 4-byte LE
   * int epoch-days (field 2) and minimal big-endian two's-complement
   * unscaled bytes (field 3), recomputed from each slice's own data.
   * Returns per-data-file row counts.
   */
  def writeTypedBoundsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val n = docs.count()
    require(n >= 8, s"typed-bounds fixture needs >= 8 docs, got $n")
    val base = docs.select(col("doc_id"),
      date_add(lit("2020-01-01").cast("date"),
        pmod(col("doc_id"), lit(300)).cast("int")).as("d"),
      (pmod(col("doc_id"), lit(300)).cast("decimal(8,0)") * 25 / 100)
        .cast("decimal(10,2)").as("amount"))
    val ranked = base.withColumn("rk", row_number().over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(pmod(col("doc_id"), lit(1)))
        .orderBy(col("d"), col("doc_id"))))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val dayBounds = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val amtBounds = scala.collection.mutable.Map
      .empty[String, (java.math.BigDecimal, java.math.BigDecimal)]
    for (i <- 0 until 4) {
      val rel = s"t$i.parquet"
      val slice = ranked
        .filter(floor((col("rk") - 1) * 4 / lit(n)).cast("int") === i)
        .select("doc_id", "d", "amount").sort("d", "doc_id")
      counts(rel) = FixtureIO.writeSingleParquet(
        slice, new java.io.File(dataDir, rel))
      val mm = slice.agg(min("d"), max("d"), min("amount"), max("amount"))
        .head()
      dayBounds(rel) = (mm.getDate(0).toLocalDate.toEpochDay,
        mm.getDate(1).toLocalDate.toEpochDay)
      amtBounds(rel) = (mm.getDecimal(2).setScale(2),
        mm.getDecimal(3).setScale(2))
    }
    def le4(v: Long): java.nio.ByteBuffer = {
      val b = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(v.toInt); b.flip(); b
    }
    def entry(rel: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = boundsManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      def kvArr(name: String, dayV: Long, amtV: java.math.BigDecimal) = {
        val arrSchema = dfSchema.getField(name).schema().getTypes.get(1)
        def kv(key: Int, bytes: java.nio.ByteBuffer) = {
          val r: org.apache.avro.generic.GenericRecord =
            new org.apache.avro.generic.GenericData.Record(
              arrSchema.getElementType)
          r.put("key", key)
          r.put("value", bytes)
          r
        }
        new org.apache.avro.generic.GenericData.Array[
          org.apache.avro.generic.GenericRecord](arrSchema,
          java.util.List.of(
            kv(2, le4(dayV)), // d: int32 LE epoch-days
            kv(3, java.nio.ByteBuffer.wrap( // amount: BE unscaled
              amtV.unscaledValue().toByteArray))))
      }
      df.put("lower_bounds",
        kvArr("lower_bounds", dayBounds(rel)._1, amtBounds(rel)._1))
      df.put("upper_bounds",
        kvArr("upper_bounds", dayBounds(rel)._2, amtBounds(rel)._2))
      val e = new org.apache.avro.generic.GenericData.Record(
        boundsManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    val rels = (0 until 4).map(i => s"t$i.parquet")
    writeAvro(new java.io.File(metaDir, "m0.avro"), boundsManifestSchema,
      rels.map(entry))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", rels.size)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-typedbounds",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"d","required":false,"type":"date"},
         | {"id":3,"name":"amount","required":false,
         |  "type":"decimal(10,2)"}]}],
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
    counts.toMap
  }

  /**
   * A four-snapshot OVERWRITE chain (1←2←3←4 by parent-snapshot-id,
   * each snapshot's list holding only its own one-file manifest, so
   * expiring a snapshot frees its whole lineage slice) with refs that
   * carry RETENTION OVERRIDES — the per-ref expiry fixture:
   *
   *  - `main` branch → 4 (the current snapshot);
   *  - `keep2` branch → 3 with `min-snapshots-to-keep: 2`, so its
   *    ancestor 2 is HELD even though it ages out by the cutoff;
   *  - `oldtag` tag → 1 with `max-ref-age-ms: 500`, so at any cutoff
   *    past ts0+500 the ref is itself expired and holds NOTHING — 1
   *    expires despite being tagged.
   *
   * Returns per-data-file row counts.
   */
  def writeExpiryRefsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val counts = (1 to 4).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        docs.filter(pmod(col("doc_id"), lit(4)) === (i - 1))
          .select(col("doc_id"), col("lang")),
        new java.io.File(dataDir, rel))
    }.toMap
    def entry(f: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = manifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    for (i <- 1 to 4) {
      writeAvro(new java.io.File(metaDir, s"m$i.avro"), manifestSchema,
        Seq(entry(s"f$i.parquet")))
      val r = new org.apache.avro.generic.GenericData.Record(
        manifestListSchema)
      r.put("manifest_path", s"metadata/m$i.avro")
      r.put("manifest_length",
        new java.io.File(metaDir, s"m$i.avro").length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("added_snapshot_id", i.toLong)
      r.put("added_files_count", 1)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", counts(s"f$i.parquet"))
      writeAvro(new java.io.File(metaDir, s"snap-$i.avro"),
        manifestListSchema, Seq(r))
    }
    val ts0 = 1700000000000L
    val snapsJson = (1 to 4).map { i =>
      val parent =
        if (i == 1) "" else s""""parent-snapshot-id":${i - 1},"""
      s"""{"snapshot-id":$i,"timestamp-ms":${ts0 + (i - 1) * 1000},$parent
         |"manifest-list":"metadata/snap-$i.avro",
         |"summary":{"operation":"overwrite"}}""".stripMargin
        .replace("\n", "")
    }.mkString(",")
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-expiryrefs",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":4,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
         |"refs":{
         | "main":{"snapshot-id":4,"type":"branch"},
         | "keep2":{"snapshot-id":3,"type":"branch",
         |  "min-snapshots-to-keep":2},
         | "oldtag":{"snapshot-id":1,"type":"tag","max-ref-age-ms":500}},
         |"snapshots":[$snapsJson]}""".stripMargin
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v1.metadata.json").toPath,
      metadataJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "1".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /** [[manifestListSchema]] plus the spec's `partitions` field
    * summaries (507-511) — the whole-manifest prune evidence. */
  private[meta] val summaryManifestListSchema = avroSchema(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int","default":0},
      |{"name":"added_snapshot_id","type":["null","long"],"default":null},
      |{"name":"added_files_count","type":"int"},
      |{"name":"existing_files_count","type":"int"},
      |{"name":"deleted_files_count","type":"int"},
      |{"name":"added_rows_count","type":"long"},
      |{"name":"partitions","type":["null",{"type":"array","items":
      |  {"type":"record","name":"field_summary","fields":[
      |    {"name":"contains_null","type":"boolean"},
      |    {"name":"contains_nan","type":["null","boolean"],"default":null},
      |    {"name":"lower_bound","type":["null","bytes"],"default":null},
      |    {"name":"upper_bound","type":["null","bytes"],"default":null}
      |  ]}}],"default":null}]}""".stripMargin)

  /**
   * A PARTITIONED table whose manifest list carries `partitions`
   * field summaries — the [[IcebergMeta.manifestSummaryPrune]] /
   * bounds-tier whole-manifest prune fixture: four pmod-4 slices with
   * a constant `part` column (identity partition, spec-id 0), split
   * across TWO manifests — m0 holds parts {0,1} (summary [0,1]), m1
   * holds parts {2,3} (summary [2,3]) — so a `part ∈ [0,1]` plan must
   * skip m1 without opening it. Entries also carry per-file `part`
   * value bounds (int32 LE). Returns per-data-file row counts.
   */
  def writeSummaryPruneFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val counts = (0 until 4).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        docs.filter(pmod(col("doc_id"), lit(4)) === i)
          .select(col("doc_id"), col("lang"),
            lit(i).cast("int").as("part")),
        new java.io.File(dataDir, rel))
    }.toMap
    def le4(v: Int): java.nio.ByteBuffer = {
      val b = java.nio.ByteBuffer.allocate(4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.putInt(v); b.flip(); b
    }
    def entry(rel: String, part: Int): org.apache.avro.generic.GenericRecord = {
      val dfSchema = boundsManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      def kvArr(name: String) = {
        val arrSchema = dfSchema.getField(name).schema().getTypes.get(1)
        val kv: org.apache.avro.generic.GenericRecord =
          new org.apache.avro.generic.GenericData.Record(
            arrSchema.getElementType)
        kv.put("key", 3) // part's field id
        kv.put("value", le4(part))
        new org.apache.avro.generic.GenericData.Array[
          org.apache.avro.generic.GenericRecord](arrSchema,
          java.util.List.of(kv))
      }
      df.put("lower_bounds", kvArr("lower_bounds"))
      df.put("upper_bounds", kvArr("upper_bounds"))
      val e = new org.apache.avro.generic.GenericData.Record(
        boundsManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), boundsManifestSchema,
      Seq(entry("f0.parquet", 0), entry("f1.parquet", 1)))
    writeAvro(new java.io.File(metaDir, "m1.avro"), boundsManifestSchema,
      Seq(entry("f2.parquet", 2), entry("f3.parquet", 3)))
    def mlEntry(path: String, rows: Long, lo: Int, hi: Int):
        org.apache.avro.generic.GenericRecord = {
      val r = new org.apache.avro.generic.GenericData.Record(
        summaryManifestListSchema)
      r.put("manifest_path", s"metadata/$path")
      r.put("manifest_length", new java.io.File(metaDir, path).length())
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("added_snapshot_id", 1L)
      r.put("added_files_count", 2)
      r.put("existing_files_count", 0)
      r.put("deleted_files_count", 0)
      r.put("added_rows_count", rows)
      val sumSchema = summaryManifestListSchema.getField("partitions")
        .schema().getTypes.get(1)
      val s: org.apache.avro.generic.GenericRecord =
        new org.apache.avro.generic.GenericData.Record(
          sumSchema.getElementType)
      s.put("contains_null", false)
      s.put("lower_bound", le4(lo))
      s.put("upper_bound", le4(hi))
      r.put("partitions", new org.apache.avro.generic.GenericData.Array[
        org.apache.avro.generic.GenericRecord](sumSchema,
        java.util.List.of(s)))
      r
    }
    writeAvro(new java.io.File(metaDir, "snap-1.avro"),
      summaryManifestListSchema,
      Seq(mlEntry("m0.avro",
        counts("f0.parquet") + counts("f1.parquet"), 0, 1),
        mlEntry("m1.avro",
          counts("f2.parquet") + counts("f3.parquet"), 2, 3)))
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-sumprune-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"},
         | {"id":3,"name":"part","required":false,"type":"int"}]}],
         |"default-spec-id":0,
         |"partition-specs":[
         |{"spec-id":0,"fields":[
         | {"name":"part","transform":"identity",
         |  "source-id":3,"field-id":1000}]}],
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
    counts
  }

  /** [[manifestSchema]] plus the spec's r109/r110 count maps. */
  private[meta] val metricsManifestSchema = avroSchema(
    """{"type":"record","name":"manifest_entry","fields":[
      |{"name":"status","type":"int"},
      |{"name":"snapshot_id","type":["null","long"],"default":null},
      |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
      |  {"name":"content","type":"int","default":0},
      |  {"name":"file_path","type":"string"},
      |  {"name":"file_format","type":"string"},
      |  {"name":"record_count","type":"long"},
      |  {"name":"file_size_in_bytes","type":"long"},
      |  {"name":"value_counts","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k119_v120","fields":[
      |      {"name":"key","type":"int"},
      |      {"name":"value","type":"long"}]}}],"default":null},
      |  {"name":"null_value_counts","type":["null",{"type":"array","items":
      |    {"type":"record","name":"k121_v122","fields":[
      |      {"name":"key","type":"int"},
      |      {"name":"value","type":"long"}]}}],"default":null}]}}]}"""
      .stripMargin)

  /**
   * A table whose manifest declares per-field COUNT metrics
   * (`value_counts`/`null_value_counts` for `lang`, field 2): three
   * pmod-3 slices of `docs` with `lang` NULLED every 7th doc —
   * f0 declares the TRUTH, f1's null count LIES by +1 (the audit must
   * flag exactly that cell), f2 declares NOTHING (surfaces with null
   * declared, never dropped). Returns per-data-file row counts.
   */
  def writeMetricsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val base = docs.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(7)) === 0, lit(null).cast("string"))
        .otherwise(col("lang")).as("lang"))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    for (i <- 0 until 3) {
      val rel = s"f$i.parquet"
      val slice = base.filter(pmod(col("doc_id"), lit(3)) === i)
      counts(rel) = FixtureIO.writeSingleParquet(
        slice, new java.io.File(dataDir, rel))
      nulls(rel) = slice.filter(col("lang").isNull).count()
    }
    def entry(rel: String,
        metrics: Option[(Long, Long)]): org.apache.avro.generic.GenericRecord = {
      val dfSchema = metricsManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      metrics.foreach { case (values, nullValues) =>
        def kvArr(name: String, v: Long) = {
          val arrSchema = dfSchema.getField(name).schema().getTypes.get(1)
          val kv: org.apache.avro.generic.GenericRecord =
            new org.apache.avro.generic.GenericData.Record(
              arrSchema.getElementType)
          kv.put("key", 2) // lang's field id
          kv.put("value", v)
          new org.apache.avro.generic.GenericData.Array[
            org.apache.avro.generic.GenericRecord](arrSchema,
            java.util.List.of(kv))
        }
        df.put("value_counts", kvArr("value_counts", values))
        df.put("null_value_counts", kvArr("null_value_counts", nullValues))
      }
      val e = new org.apache.avro.generic.GenericData.Record(
        metricsManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), metricsManifestSchema,
      Seq(
        entry("f0.parquet",
          Some((counts("f0.parquet"), nulls("f0.parquet")))),
        entry("f1.parquet", // the planted LIE: one extra null declared
          Some((counts("f1.parquet"), nulls("f1.parquet") + 1))),
        entry("f2.parquet", None)))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", 3)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-metrics",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
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
    counts.toMap
  }

  /**
   * A table whose manifest carries TRUTHFUL `lang` STRING bounds
   * (raw UTF-8): the sorted lang set splits in half — `s0.parquet`
   * holds the first half, `s1.parquet` the rest — so an equality
   * probe on the first half's LAST lang keeps s0 and PRUNES s1 from
   * the manifest alone. One snapshot, one manifest. Returns
   * per-data-file row counts.
   */
  def writeStringBoundsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val langs = docs.filter(col("lang").isNotNull).select("lang")
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(langs.size >= 2,
      s"string-bounds fixture needs >= 2 langs, got ${langs.size}")
    val firstHalf = langs.take((langs.size + 1) / 2).toSet
    val slices = Seq(
      "s0.parquet" -> docs.filter(col("lang").isin(firstHalf.toSeq: _*)),
      "s1.parquet" -> docs.filter(col("lang").isNotNull &&
        !col("lang").isin(firstHalf.toSeq: _*)))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    val bounds = scala.collection.mutable.Map.empty[String, (String, String)]
    for ((rel, df) <- slices) {
      val slice = df.select(col("doc_id"), col("lang")).sort("lang")
      counts(rel) = FixtureIO.writeSingleParquet(
        slice, new java.io.File(dataDir, rel))
      val mm = slice.agg(min("lang"), max("lang")).head()
      bounds(rel) = (mm.getString(0), mm.getString(1))
    }
    def entry(rel: String): org.apache.avro.generic.GenericRecord = {
      val dfSchema = boundsManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      def kvArr(name: String, v: String) = {
        val arrSchema = dfSchema.getField(name).schema().getTypes.get(1)
        val kv: org.apache.avro.generic.GenericRecord =
          new org.apache.avro.generic.GenericData.Record(
            arrSchema.getElementType)
        kv.put("key", 2) // lang's field id
        kv.put("value", java.nio.ByteBuffer.wrap(
          v.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        new org.apache.avro.generic.GenericData.Array[
          org.apache.avro.generic.GenericRecord](arrSchema,
          java.util.List.of(kv))
      }
      val (lo, hi) = bounds(rel)
      df.put("lower_bounds", kvArr("lower_bounds", lo))
      df.put("upper_bounds", kvArr("upper_bounds", hi))
      val e = new org.apache.avro.generic.GenericData.Record(
        boundsManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), boundsManifestSchema,
      Seq(entry("s0.parquet"), entry("s1.parquet")))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), manifestListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          manifestListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length", new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", 2)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        r
      })
    val metadataJson =
      s"""{"format-version":2,"table-uuid":"graft-iceberg-strbounds",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
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
    counts.toMap
  }

  /**
   * The base fixture plus a `snapshot-log`: the real snaps 1 and 2 in
   * commit order, then a third entry pointing at EXPIRED snapshot 99
   * whose timestamp also steps BACKWARD — the dangling + non-monotone
   * shapes [[snapshotLogReport]] must surface. Returns per-data-file
   * row counts.
   */
  def writeSnapshotLogFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val mf = new java.io.File(dir, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val log =
      """"snapshot-log":[
        |{"timestamp-ms":1700000000000,"snapshot-id":1},
        |{"timestamp-ms":1700000001000,"snapshot-id":2},
        |{"timestamp-ms":1700000000500,"snapshot-id":99}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + log)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * The base fixture plus a `refs` map: the `main` branch on the
   * current snapshot, a `v1` tag on the superseded one, and a `stale`
   * tag on an EXPIRED snapshot id (99) — the dangling shape
   * [[refsReport]] must surface. Returns per-data-file row counts.
   */
  def writeRefsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val mf = new java.io.File(dir, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val refs =
      """"refs":{"main":{"snapshot-id":2,"type":"branch"},""" +
        """"v1":{"snapshot-id":1,"type":"tag"},""" +
        """"stale":{"snapshot-id":99,"type":"tag"}},"""
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + refs)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * The base fixture plus a STATISTICS entry (the spec's Puffin sketch
   * layout): `metadata/stats-2.puffin` carries two blobs — an
   * `apache-datasketches-theta-v1` NDV sketch and a
   * `deletion-vector-v1`-shaped placeholder — both stamped
   * snapshot-id 2; the metadata JSON's `statistics` list declares the
   * file with its `blob-metadata`. Returns per-data-file row counts.
   */
  def writeStatsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val metaDir = new java.io.File(dir, "metadata")
    val stats = new java.io.File(metaDir, "stats-2.puffin")
    // blob bodies are opaque to the footer layer; deterministic bytes
    val theta = Array.tabulate[Byte](64)(i => (i * 7 + 3).toByte)
    val extra = PuffinCodec.encodeDvBlob(Array(0L))
    PuffinCodec.writePuffinFile(stats, Seq(
      ("apache-datasketches-theta-v1", Map("ndv" -> "42"), theta),
      (PuffinCodec.DeletionVectorV1, Map.empty[String, String], extra)),
      snapshotId = 2L, sequenceNumber = 2L)
    val mf = new java.io.File(metaDir, "v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    val marker = "\"current-snapshot-id\":2,"
    require(txt.contains(marker), s"fixture metadata missing '$marker'")
    val statsJson =
      s""""statistics":[{"snapshot-id":2,
         |"statistics-path":"metadata/stats-2.puffin",
         |"file-size-in-bytes":${stats.length()},
         |"blob-metadata":[
         |{"type":"apache-datasketches-theta-v1","snapshot-id":2,
         | "sequence-number":2,"fields":[],"properties":{"ndv":"42"}},
         |{"type":"deletion-vector-v1","snapshot-id":2,
         | "sequence-number":2,"fields":[],"properties":{}}]}],"""
        .stripMargin.replace("\n", "")
    java.nio.file.Files.write(mf.toPath,
      txt.replace(marker, marker + statsJson)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * A format-v3 table with ROW LINEAGE: four doc slices whose
   * `first_row_id` ranges exercise every resolution path — f0 EXPLICIT
   * at 0, f1/f2 INHERITED positionally from the manifest's own
   * `first_row_id` (n0, so f1 lands at n0 and f2 at n0+n1), and f3
   * explicit but dipping 3 ids into f2's range AND ending past the
   * metadata's `next-row-id` — the audit must flag exactly f3 on both
   * counts. Returns per-file row counts.
   */
  def writeRowLineageFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame,
      plantAnomaly: Boolean = true): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val base = docs.select(col("doc_id"), col("lang"))
    val counts = (0 until 4).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        base.filter(pmod(col("doc_id"), lit(4)) === i),
        new java.io.File(dataDir, rel))
    }.toMap
    val (n0, n1, n2, n3) = (counts("f0.parquet"), counts("f1.parquet"),
      counts("f2.parquet"), counts("f3.parquet"))
    val lineageManifestSchema = avroSchema(
      """{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"data_file","fields":[
        |  {"name":"content","type":"int","default":0},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"},
        |  {"name":"first_row_id","type":["null","long"],"default":null}]}}]}"""
        .stripMargin)
    def entry(rel: String, first: Option[Long]): org.apache.avro.generic.GenericRecord = {
      val dfSchema = lineageManifestSchema.getField("data_file").schema()
      val df = new org.apache.avro.generic.GenericData.Record(dfSchema)
      df.put("content", 0)
      df.put("file_path", s"data/$rel")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(rel))
      df.put("file_size_in_bytes", new java.io.File(dataDir, rel).length())
      df.put("first_row_id", first.map(java.lang.Long.valueOf).orNull)
      val e = new org.apache.avro.generic.GenericData.Record(
        lineageManifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), lineageManifestSchema,
      Seq(entry("f0.parquet", Some(0L)),
        entry("f1.parquet", None),
        entry("f2.parquet", None),
        // the planted anomaly: dips 3 ids into f2's inherited range
        // and (with next-row-id below) ends past the declared headroom;
        // the clean variant (plantAnomaly=false) assigns f3 its true base
        entry("f3.parquet",
          Some(n0 + n1 + n2 - (if (plantAnomaly) 3 else 0)))))
    val lineageListSchema = avroSchema(
      """{"type":"record","name":"manifest_file","fields":[
        |{"name":"manifest_path","type":"string"},
        |{"name":"manifest_length","type":"long"},
        |{"name":"partition_spec_id","type":"int"},
        |{"name":"content","type":"int","default":0},
        |{"name":"added_snapshot_id","type":["null","long"],"default":null},
        |{"name":"added_files_count","type":"int"},
        |{"name":"existing_files_count","type":"int"},
        |{"name":"deleted_files_count","type":"int"},
        |{"name":"added_rows_count","type":"long"},
        |{"name":"first_row_id","type":["null","long"],"default":null}]}"""
        .stripMargin)
    writeAvro(new java.io.File(metaDir, "snap-1.avro"), lineageListSchema,
      Seq {
        val r = new org.apache.avro.generic.GenericData.Record(
          lineageListSchema)
        r.put("manifest_path", "metadata/m0.avro")
        r.put("manifest_length",
          new java.io.File(metaDir, "m0.avro").length())
        r.put("partition_spec_id", 0)
        r.put("content", 0)
        r.put("added_snapshot_id", 1L)
        r.put("added_files_count", 4)
        r.put("existing_files_count", 0)
        r.put("deleted_files_count", 0)
        r.put("added_rows_count", counts.values.sum)
        // inherited assignments start AFTER f0's explicit range
        r.put("first_row_id", java.lang.Long.valueOf(n0))
        r
      })
    val metadataJson =
      s"""{"format-version":3,"table-uuid":"graft-iceberg-rowlineage-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"next-row-id":${n0 + n1 + n2 + n3 - (if (plantAnomaly) 4 else 0)},
         |"current-schema-id":0,
         |"schemas":[
         |{"schema-id":0,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"}]}],
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
    counts
  }

  /**
   * A FORMAT-VERSION 3 table with DEFAULT VALUES (r19): one snapshot,
   * two data files carrying only `(doc_id, lang)`, and a current
   * schema that ALSO declares `score` (long, `initial-default` 5 +
   * `write-default` 5 — added-with-default, read-filled) and `tag`
   * (long, `write-default` 9 only — new writes get 9, old rows read
   * null). [[IcebergMeta.schemaConformance]] must flag `tag` as the
   * only backfill gap: `score`'s physical absence is filled at read
   * per the v3 default-value contract. Returns rows per relative
   * data file.
   */
  def writeV3DefaultsFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    val dataDir = new java.io.File(root, "data")
    val metaDir = new java.io.File(root, "metadata")
    dataDir.mkdirs()
    metaDir.mkdirs()
    val counts = FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("lang")),
      pmod(col("doc_id"), lit(2)), 2,
      i => new java.io.File(dataDir, s"f$i.parquet"))
      .map { case (i, c) => s"f$i.parquet" -> c }
    def entry(f: String): org.apache.avro.generic.GenericRecord = {
      val df = new org.apache.avro.generic.GenericData.Record(
        manifestSchema.getField("data_file").schema())
      df.put("content", 0)
      df.put("file_path", s"data/$f")
      df.put("file_format", "PARQUET")
      df.put("record_count", counts(f))
      df.put("file_size_in_bytes", new java.io.File(dataDir, f).length())
      val e = new org.apache.avro.generic.GenericData.Record(manifestSchema)
      e.put("status", 1)
      e.put("snapshot_id", null)
      e.put("data_file", df)
      e
    }
    writeAvro(new java.io.File(metaDir, "m0.avro"), manifestSchema,
      Seq(entry("f0.parquet"), entry("f1.parquet")))
    val ml = new org.apache.avro.generic.GenericData.Record(
      manifestListSchema)
    ml.put("manifest_path", "metadata/m0.avro")
    ml.put("manifest_length",
      new java.io.File(metaDir, "m0.avro").length())
    ml.put("partition_spec_id", 0)
    ml.put("content", 0)
    ml.put("added_snapshot_id", 1L)
    ml.put("added_files_count", 2)
    ml.put("existing_files_count", 0)
    ml.put("deleted_files_count", 0)
    ml.put("added_rows_count",
      counts("f0.parquet") + counts("f1.parquet"))
    writeAvro(new java.io.File(metaDir, "snap-1.avro"),
      manifestListSchema, Seq(ml))
    val metadataJson =
      s"""{"format-version":3,"table-uuid":"graft-iceberg-v3d-fixture",
         |"location":"${root.getAbsolutePath}",
         |"current-snapshot-id":1,
         |"current-schema-id":1,
         |"schemas":[
         |{"schema-id":1,"type":"struct","fields":[
         | {"id":1,"name":"doc_id","required":false,"type":"long"},
         | {"id":2,"name":"lang","required":false,"type":"string"},
         | {"id":3,"name":"score","required":false,"type":"long",
         |  "initial-default":5,"write-default":5},
         | {"id":4,"name":"tag","required":false,"type":"long",
         |  "write-default":9}]}],
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
    counts
  }
}
