package graft.meta

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The Iceberg metadata tier: the `source=iceberg` snapshot level over a
 * hand-written (public-spec) table, the distributed current-snapshot
 * file reconstruction incl. format-v2 delete manifests, the numeric
 * version ordering a lexicographic sort would break at v10, the
 * validation matrix, and the commit stream.
 */
class IcebergSourceSpec extends SparkSpec {

  private def meta(path: String, opts: (String, String)*) = {
    val r = spark.read.format("metadata")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  private lazy val docs = spark.range(0, 600)
    .select(col("id").as("doc_id"), (col("id") % 5).cast("string").as("lang"))

  private lazy val fixture: (String, Map[String, Long]) = {
    val d = Files.createTempDirectory("graft_iceberg").toString + "/tbl"
    val counts = IcebergMeta.writeFixtureTable(spark, d, docs)
    (d, counts)
  }
  private def table: String = fixture._1
  private def counts: Map[String, Long] = fixture._2

  test("snapshot level: one row per snapshot, current flagged") {
    val rows = meta(table, "source" -> "iceberg", "level" -> "snapshot")
      .orderBy("snapshot_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("snapshot_id") === 1L)
    assert(rows(0).getAs[String]("operation") === "append")
    assert(!rows(0).getAs[Boolean]("is_current"))
    assert(rows(1).getAs[Long]("snapshot_id") === 2L)
    assert(rows(1).getAs[String]("operation") === "overwrite")
    assert(rows(1).getAs[Boolean]("is_current"))
    assert(rows.forall(_.getAs[Int]("format_version") === 2))
    assert(rows.forall(_.getAs[String]("filename") === "v1.metadata.json"))
    // an iceberg table INFERS (no source option) by its metadata dir
    assert(meta(table).count() === 2L)
  }

  test("currentFiles: live data files, deleted-but-present, delete manifest") {
    val entries = IcebergMeta.currentFiles(spark, table).collect()
    // snap 2: f0..f2 via the reused m0 + f3,f4 added + f5 deleted + del0
    assert(entries.length === 7)
    val byPath = entries.map(r => r.getAs[String]("file_path") -> r).toMap
    val live = entries.filter(r => r.getAs[Int]("status") != 2 &&
      r.getAs[Int]("content") == 0)
    assert(live.map(_.getAs[String]("file_path")).sorted.toSeq ===
      (0 to 4).map(i => s"data/f$i.parquet"))
    // manifest record counts equal the data actually written
    live.foreach { r =>
      val name = new Path(r.getAs[String]("file_path")).getName
      assert(r.getAs[Long]("record_count") === counts(name))
    }
    // f5: written, then removed in snap 2, still on disk
    assert(byPath("data/f5.parquet").getAs[Int]("status") === 2)
    // the position-delete file is classified, not counted as data
    val del = byPath("data/del0.parquet")
    assert(del.getAs[Int]("content") === 1)
    assert(del.getAs[Long]("record_count") === 2L)
    // net live rows = data rows minus merge-on-read deleted positions
    val dataRows = live.map(_.getAs[Long]("record_count")).sum
    assert(dataRows - 2L ===
      (0 to 4).map(i => counts(s"f$i.parquet")).sum - 2L)
    // the delete file is REAL: its positions point into a live file
    val delRows = spark.read.parquet(table + "/data/del0.parquet").collect()
    assert(delRows.length === 2)
    assert(delRows.forall(_.getAs[String]("file_path").endsWith("f0.parquet")))
  }

  test("manifest census composes with the parquet footer tier") {
    val live = IcebergMeta.currentFiles(spark, table)
      .filter(col("status") =!= 2 && col("content") === 0)
      .select(col("abs_path"), col("record_count"))
    val footers = meta(table + "/data", "source" -> "parquet", "level" -> "file")
      .select(col("filepath"), col("num_rows"))
    // disk census: 6 data slices + 1 delete file
    assert(footers.count() === 7L)
    val joined = footers.join(live, footers("filepath") === live("abs_path"))
    // every manifest record count matches the file's own footer
    assert(joined.filter(col("num_rows") =!= col("record_count")).count() === 0L)
    // exactly two disk files are NOT live data: f5 (deleted) + del0
    assert(footers.join(live,
      footers("filepath") === live("abs_path"), "left_anti").count() === 2L)
  }

  test("numeric version ordering survives v10 (lexicographic would not)") {
    assert(IcebergMeta.metadataVersion("v9.metadata.json") === 9L)
    assert(IcebergMeta.metadataVersion("v10.metadata.json") === 10L)
    assert(IcebergMeta.metadataVersion("00012-abc-def.metadata.json") === 12L)
    assert(IcebergMeta.metadataVersion("weird.metadata.json") === -1L)

    val d = Files.createTempDirectory("graft_iceberg_v10").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val metaDir = new java.io.File(d, "metadata")
    val v1 = new java.io.File(metaDir, "v1.metadata.json").toPath
    // v2..v11 are copies of v1; v12 REWINDS current-snapshot-id to 1 so
    // picking it is observable; no version hint → numeric-latest wins
    (2 to 11).foreach { i =>
      java.nio.file.Files.copy(v1,
        new java.io.File(metaDir, s"v$i.metadata.json").toPath)
    }
    val v12 = new String(java.nio.file.Files.readAllBytes(v1), "UTF-8")
      .replace("\"current-snapshot-id\":2", "\"current-snapshot-id\":1")
    java.nio.file.Files.write(
      new java.io.File(metaDir, "v12.metadata.json").toPath,
      v12.getBytes("UTF-8"))
    new java.io.File(metaDir, "version-hint.text").delete()

    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(d)
    val fs = root.getFileSystem(hconf)
    assert(IcebergMeta.currentMetadataFile(fs, root).getName ===
      "v12.metadata.json")
    // v12's current snapshot is snap 1 → only m0's three added files
    val files = IcebergMeta.currentFiles(spark, d).collect()
    assert(files.length === 3)
    assert(files.map(_.getAs[String]("file_path")).sorted.toSeq ===
      Seq("data/f0.parquet", "data/f1.parquet", "data/f2.parquet"))
    // and the slice listing is in numeric order
    val names = IcebergMeta.listMetadataSlices(root, hconf).map(_.name)
    assert(names === (1 to 12).map(i => s"v$i.metadata.json"))
  }

  test("orphan files: unreferenced disk debris, deleted entries still count") {
    val d = Files.createTempDirectory("graft_iceberg_orph").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    // pristine table: every disk file (f0..f5 + del0) is referenced by
    // SOME snapshot — f5's DELETED entry is still a reference
    assert(IcebergMeta.orphanFiles(spark, d).count() === 0L)
    // an aborted write leaves debris: one stray parquet + one junk file
    docs.limit(7).coalesce(1).write.mode("overwrite")
      .parquet(d + "/data/stray_tmp")
    val part = new java.io.File(d + "/data/stray_tmp").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(d + "/data/stray.parquet").toPath)
    org.apache.commons.io.FileUtils.deleteQuietly(
      new java.io.File(d + "/data/stray_tmp"))
    java.nio.file.Files.write(
      new java.io.File(d + "/data/junk.bin").toPath,
      Array[Byte](1, 2, 3, 4, 5))
    val orphans = IcebergMeta.orphanFiles(spark, d).collect()
      .map(r => r.getAs[String]("filename") -> r).toMap
    assert(orphans.keySet === Set("stray.parquet", "junk.bin"))
    assert(orphans("stray.parquet").getAs[String]("format") === "parquet")
    assert(orphans("stray.parquet").getAs[Long]("num_rows") === 7L)
    assert(orphans("junk.bin").getAs[String]("format") === "other")
    assert(orphans("junk.bin").isNullAt(
      orphans("junk.bin").fieldIndex("num_rows")))
  }

  test("schema history: superseded schemas survive, current flagged") {
    val rows = IcebergMeta.schemaHistory(spark, table)
      .orderBy("schema_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Int]("schema_id") === 0)
    assert(rows(0).getAs[Int]("n_fields") === 2)
    assert(rows(0).getAs[String]("field_names_csv") === "doc_id,lang")
    assert(!rows(0).getAs[Boolean]("is_current"))
    assert(rows(1).getAs[Int]("schema_id") === 1)
    assert(rows(1).getAs[String]("field_names_csv") === "doc_id,lang,n_chars")
    assert(rows(1).getAs[Boolean]("is_current"))
  }

  test("time travel: any listed snapshot resolves, expired ids refuse") {
    // snapshot 1 predates the overwrite: just m0's three added files
    val snap1 = IcebergMeta.filesAt(spark, table, Some(1L)).collect()
    assert(snap1.map(_.getAs[String]("file_path")).sorted.toSeq ===
      Seq("data/f0.parquet", "data/f1.parquet", "data/f2.parquet"))
    assert(snap1.forall(_.getAs[Int]("status") === 1))
    // the explicit current id equals the default resolution
    val cur = IcebergMeta.filesAt(spark, table, Some(2L))
      .select("file_path").collect().map(_.getString(0)).toSet
    val dflt = IcebergMeta.currentFiles(spark, table)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(cur === dflt)
    // snapshot diff at metadata cost: rows added between snap 1 and 2
    val rowsAt1 = snap1.map(_.getAs[Long]("record_count")).sum
    val rows2 = IcebergMeta.filesAt(spark, table, Some(2L))
      .filter(col("status") =!= 2 && col("content") === 0)
      .agg(sum("record_count")).collect()(0).getLong(0)
    assert(rows2 - rowsAt1 ===
      counts("f3.parquet") + counts("f4.parquet"))
    // an id the metadata no longer lists refuses with the survivors
    val e = intercept[IllegalArgumentException](
      IcebergMeta.filesAt(spark, table, Some(99L)))
    assert(e.getMessage.contains("no snapshot 99"))
    assert(e.getMessage.contains("1, 2"))
  }

  test("partitioned table: manifest partition records prune file planning") {
    val d = Files.createTempDirectory("graft_iceberg_part").toString + "/tbl"
    val pdocs = docs.withColumn("n_chars", col("doc_id") * 7)
    IcebergMeta.writePartitionedFixtureTable(spark, d, pdocs)
    val files = IcebergMeta.currentFiles(spark, d)
    assert(files.count() === 10L) // 5 langs x 2 parity files
    // "which files serve lang = 3" answers from the MANIFEST alone
    val pruned = files
      .filter(element_at(col("partition_values"), "lang") === "3")
    val prunedRows = pruned.agg(sum("record_count")).collect()(0).getLong(0)
    assert(prunedRows === pdocs.filter(col("lang") === "3").count())
    val paths = pruned.select("abs_path").collect().map(_.getString(0))
    assert(paths.length === 2)
    // composing with the parquet tier: footer I/O touches only those 2
    val footers = meta(d + "/data", "source" -> "parquet", "level" -> "file")
      .filter(col("filepath").isin(paths.toSeq: _*))
    val plan = footers.queryExecution.executedPlan.toString
    assert(plan.contains("files=2/10"), s"scan not pruned: $plan")
    assert(footers.agg(sum("num_rows")).collect()(0).getLong(0) === prunedRows)
    // the UNPARTITIONED fixture decodes an empty map, not a crash
    val flat = IcebergMeta.currentFiles(spark, table)
      .select("partition_values").collect()
    assert(flat.forall(_.getAs[Map[String, String]](0).isEmpty))
  }

  test("timestamp travel resolves from the snapshot list") {
    val ts0 = 1700000000000L // snap 1; snap 2 at ts0 + 1000
    assert(IcebergMeta.snapshotIdAt(spark, table, ts0 + 500) === 1L)
    assert(IcebergMeta.snapshotIdAt(spark, table, ts0 + 99999) === 2L)
    assert(IcebergMeta.filesAtTime(spark, table, ts0 + 500).count() === 3L)
    val e = intercept[IllegalArgumentException](
      IcebergMeta.snapshotIdAt(spark, table, ts0 - 1))
    assert(e.getMessage.contains("before the first listed snapshot"))
  }

  test("stale version-hint falls back to the numeric-latest metadata") {
    val d = Files.createTempDirectory("graft_iceberg_hint").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    // a hint pointing at a version that no longer exists (compaction
    // raced the pointer) must not fail — numeric-latest wins
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/version-hint.text").toPath,
      "99".getBytes("UTF-8"))
    val hconf = spark.sessionState.newHadoopConf()
    val root = new Path(d)
    assert(IcebergMeta.currentMetadataFile(
      root.getFileSystem(hconf), root).getName === "v1.metadata.json")
    assert(IcebergMeta.currentFiles(spark, d).count() === 7L)
  }

  test("validation matrix, foreign-dir and malformed-metadata refusal") {
    val e1 = intercept[Exception](
      meta(table, "source" -> "iceberg", "level" -> "rowgroup").collect())
    assert(causeMessages(e1).contains(
      "Source 'iceberg' does not support 'rowgroup' level"))
    // a non-iceberg directory refuses the iceberg source clearly
    val plain = Files.createTempDirectory("graft_noticeberg").toString
    spark.range(3).write.mode("overwrite").parquet(plain)
    val e2 = intercept[Exception](meta(plain, "source" -> "iceberg").collect())
    assert(causeMessages(e2).contains("not an Iceberg table"))
    // a foreign *.metadata.json refuses with file + field, not an NPE
    val bad = Files.createTempDirectory("graft_badiceberg").toString + "/tbl"
    val badMeta = new java.io.File(bad, "metadata")
    badMeta.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(badMeta, "v1.metadata.json").toPath,
      """{"something":"else"}""".getBytes("UTF-8"))
    val e3 = intercept[Exception](meta(bad, "source" -> "iceberg").collect())
    assert(causeMessages(e3).contains("Malformed Iceberg metadata"))
    assert(causeMessages(e3).contains("format-version"))
  }

  test("explicit non-snapshot level bypasses table auto-detection") {
    // sourceless load with level=rowgroup must NOT branch to the
    // iceberg listing: it scans the table's files as raw parquet
    val df = meta(table + "/data", "level" -> "rowgroup")
    assert(df.count() > 0L)
    assert(df.columns.contains("num_rows"))
  }

  test("streaming current-store refreshes only on new metadata versions") {
    val d = Files.createTempDirectory("graft_iceberg_cs").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val store = Files.createTempDirectory("graft_ice_csd").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_ice_csc").toString
    IcebergMeta.maintainCurrentStore(spark, d, store, ckpt)
    // wave 1: the store holds snapshot 2's full entry set
    assert(IcebergMeta.readCurrentStore(spark, store).count() === 7L)
    val mtimeAfter1 = new java.io.File(store).lastModified()
    // a no-news wave must not republish the store
    IcebergMeta.maintainCurrentStore(spark, d, store, ckpt)
    assert(new java.io.File(store).lastModified() === mtimeAfter1)
    // wave 2: v2 metadata REWINDS current to snapshot 1 — the store
    // refreshes to its manifest set
    val metaDir = new java.io.File(d, "metadata")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(metaDir, "v1.metadata.json").toPath), "UTF-8")
    val v2f = new java.io.File(metaDir, "v2.metadata.json")
    java.nio.file.Files.write(v2f.toPath,
      v1.replace("\"current-snapshot-id\":2", "\"current-snapshot-id\":1")
        .getBytes("UTF-8"))
    v2f.setLastModified(System.currentTimeMillis() + 1)
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    IcebergMeta.maintainCurrentStore(spark, d, store, ckpt)
    val got = IcebergMeta.readCurrentStore(spark, store)
      .select("file_path").collect().map(_.getString(0)).toSet
    assert(got === Set("data/f0.parquet", "data/f1.parquet", "data/f2.parquet"))
  }

  test("current store comes back after a crash between the publish renames") {
    val d = Files.createTempDirectory("graft_iceberg_crash").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val store = Files.createTempDirectory("graft_ice_crash_s")
      .toString + "/store"
    val ckpt = Files.createTempDirectory("graft_ice_crash_c").toString
    IcebergMeta.maintainCurrentStore(spark, d, store, ckpt)
    // the previous store staged aside, no store in place; the next pass
    // has no new metadata, so only the repair can bring the store back
    assert(new java.io.File(store).renameTo(new java.io.File(store + "_old")))
    IcebergMeta.maintainCurrentStore(spark, d, store, ckpt)
    assert(IcebergMeta.readCurrentStore(spark, store).count() === 7L)
    assert(!new java.io.File(store + "_old").exists())
  }

  test("commit stream: new metadata versions arrive as micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val d = Files.createTempDirectory("graft_iceberg_stream").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val ckpt = Files.createTempDirectory("graft_iceberg_ck").toString
    val out = Files.createTempDirectory("graft_iceberg_out").toString
    def runWave(): Unit = {
      val src = spark.readStream.format("metadata")
        .option("source", "iceberg").option("level", "snapshot")
        .option("streamlagms", "0").load(d)
      val q = src.select("snapshot_id", "operation", "is_current", "filename")
        .writeStream.format("parquet").outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).option("path", out).start()
      q.awaitTermination(60000)
      q.stop()
    }
    runWave()
    val got1 = spark.read.parquet(out)
    assert(got1.count() === 2L)
    assert(got1.filter(col("is_current")).count() === 1L)
    // wave 2: a new metadata version lands (a third snapshot appended);
    // the checkpointed restart admits ONLY the new file — v1's two
    // snapshots are not re-emitted
    val metaDir = new java.io.File(d, "metadata")
    val v1 = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(metaDir, "v1.metadata.json").toPath), "UTF-8")
    val v2 = v1
      .replace("\"current-snapshot-id\":2", "\"current-snapshot-id\":3")
      .replace("""{"snapshot-id":1,""",
        """{"snapshot-id":3,"timestamp-ms":1700000002000,
          | "manifest-list":"metadata/snap-2.avro",
          | "summary":{"operation":"append"}},
          |{"snapshot-id":1,""".stripMargin)
    val v2f = new java.io.File(metaDir, "v2.metadata.json")
    java.nio.file.Files.write(v2f.toPath, v2.getBytes("UTF-8"))
    v2f.setLastModified(System.currentTimeMillis() + 1)
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    runWave()
    val got2 = spark.read.parquet(out)
    assert(got2.count() === 5L) // 2 (v1 wave) + 3 (v2's snapshot list)
    assert(got2.filter(col("filename") === "v2.metadata.json").count() === 3L)
    assert(got2.filter(col("is_current") &&
      col("filename") === "v2.metadata.json")
      .select("snapshot_id").collect().map(_.getLong(0)).toSeq === Seq(3L))
  }

  test("schema conformance: files predating the current schema surface") {
    // every fixture file was written before the current schema (id 1)
    // added n_chars — all five live data files miss exactly it
    val rows = IcebergMeta.schemaConformance(spark, table).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_declared") === 3)
      assert(r.getAs[Int]("n_present") === 2)
      assert(r.getAs[String]("missing_csv") === "n_chars")
    }
    // a live file gone from disk surfaces with NULL evidence, not a
    // dropped row
    val d = java.nio.file.Files.createTempDirectory("graft_ice_conf")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    assert(new java.io.File(d, "data/f4.parquet").delete())
    val rows2 = IcebergMeta.schemaConformance(spark, d).collect()
    assert(rows2.length === 5)
    val f4 = rows2.find(_.getString(0).endsWith("f4.parquet")).get
    assert(f4.isNullAt(f4.fieldIndex("n_present")))
    assert(f4.isNullAt(f4.fieldIndex("missing_csv")))
  }

  test("position-delete rows decode row-wise; equality deletes refuse") {
    // del0 deletes positions 0 and 1 of f0 — the deleted doc_ids are
    // f0's first two FILE rows, joined via _metadata.row_index
    val pos = IcebergMeta.positionDeleteRows(spark, table)
    val got = pos.collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.forall(_._1.endsWith("f0.parquet")))
    assert(got.map(_._2).sorted.toSeq === Seq(0L, 1L))
    val rows = spark.read.parquet(table + "/data/f0.parquet")
      .select(col("doc_id"), col("_metadata.row_index").as("ridx"))
    val firstTwo = rows.filter(col("ridx") < 2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val deleted = pos.join(rows, pos("pos") === rows("ridx"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(deleted === firstTwo)
    // a live EQUALITY delete (content=2) refuses the audit: rewrite
    // the delete manifest's entry content
    val d = java.nio.file.Files.createTempDirectory("graft_ice_eq")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val manifest = new java.io.File(d, "metadata").listFiles()
      .filter(_.getName == "m3.avro").head
    val reader = new org.apache.avro.file.DataFileReader(
      manifest, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val schema = reader.getSchema
    val records = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) records += reader.next()
    reader.close()
    records.foreach(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .put("content", 2))
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    writer.create(schema, manifest)
    records.foreach(writer.append)
    writer.close()
    val e = intercept[UnsupportedOperationException](
      IcebergMeta.positionDeleteRows(spark, d))
    assert(e.getMessage.contains("equality delete"))
  }

  test("format-version 3 censuses; anything newer refuses, classified") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_v3")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val before = IcebergMeta.currentFiles(spark, d).collect()
    // craft the v3 metadata: same table, format-version bumped — the
    // census must read it identically (v3 semantics only differ when
    // DV entries are PRESENT, and this table has none)
    val metaDir = new java.io.File(d, "metadata")
    val mf = metaDir.listFiles().filter(_.getName.endsWith(".metadata.json"))
      .maxBy(_.getName)
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    assert(txt.contains("\"format-version\":2"))
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"format-version\":2", "\"format-version\":3")
        .getBytes("UTF-8"))
    val after = IcebergMeta.currentFiles(spark, d).collect()
    assert(after.length === before.length)
    // format-version 4 (unknown future semantics) refuses up front
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"format-version\":2", "\"format-version\":4")
        .getBytes("UTF-8"))
    val e1 = intercept[UnsupportedOperationException](
      IcebergMeta.currentFiles(spark, d).collect())
    assert(e1.getMessage.contains("format-version 4"))
    assert(e1.getMessage.contains("newer"))
    val e2 = intercept[UnsupportedOperationException](
      IcebergMeta.orphanFiles(spark, d).collect())
    assert(e2.getMessage.contains("format-version 4"))
    // the SNAPSHOT level (listing, no census) still reads v4 tables
    assert(meta(d, "source" -> "iceberg", "level" -> "snapshot")
      .count() >= 1L)
  }

  test("v3 deletion vectors: puffin blobs decode to exact row positions") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_dv")
      .toString + "/tbl"
    val counts = IcebergMeta.writeDvFixtureTable(spark, d, docs)
    // the DV manifest entries census as deletes, not data
    val entries = IcebergMeta.currentFiles(spark, d).collect()
    val dataEntries = entries.filter(_.getAs[Int]("content") == 0)
    val dvEntries = entries.filter(_.getAs[Int]("content") == 1)
    assert(dataEntries.length === 2)
    assert(dvEntries.length === 2)
    assert(dvEntries.forall(_.getAs[String]("file_format") == "PUFFIN"))
    assert(dvEntries.map(_.getAs[Long]("record_count")).sum === 5L)
    // row-wise: the decoded positions are exactly the planted ones
    val pos = IcebergMeta.positionDeleteRows(spark, d).collect()
      .map(r => (r.getString(0).substring(
        r.getString(0).lastIndexOf('/') + 1), r.getLong(1)))
      .sorted
    assert(pos.toSeq === Seq(
      ("f0.parquet", 1L), ("f0.parquet", 3L), ("f0.parquet", 5L),
      ("f1.parquet", 0L), ("f1.parquet", 2L)))
    // net rows = physical minus DV cardinalities
    val netRows = dataEntries.map(_.getAs[Long]("record_count")).sum - 5L
    assert(netRows === counts.values.sum - 5L)
  }

  test("v3 DV cardinality disagreement refuses, classified") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_dvbad")
      .toString + "/tbl"
    IcebergMeta.writeDvFixtureTable(spark, d, docs)
    // corrupt: rewrite the DELETE manifest's record_count (the claimed
    // cardinality) so it disagrees with the decoded payload
    val manifest = new java.io.File(d, "metadata/m1.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      manifest, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val schema = reader.getSchema
    val records = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) records += reader.next()
    reader.close()
    records.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .put("record_count", 99L)
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    writer.create(schema, manifest)
    records.foreach(writer.append)
    writer.close()
    val e = intercept[Exception](
      IcebergMeta.positionDeleteRows(spark, d).collect())
    assert(causeMessages(e).contains("claims 99"))
  }

  test("statistics audit: footer blobs vs declared blob-metadata") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_stats")
      .toString + "/tbl"
    IcebergMeta.writeStatsFixtureTable(spark, d, docs)
    val rows = IcebergMeta.statisticsReport(spark, d)
      .orderBy("blob_idx").collect()
    assert(rows.length === 2)
    assert(rows.forall(_.getAs[String]("filename") == "stats-2.puffin"))
    assert(rows.forall(_.getAs[Long]("stats_snapshot_id") == 2L))
    assert(rows(0).getAs[String]("blob_type") ===
      "apache-datasketches-theta-v1")
    assert(rows(1).getAs[String]("blob_type") === "deletion-vector-v1")
    assert(rows.forall(_.getAs[Long]("blob_snapshot_id") == 2L))
    assert(rows.forall(_.getAs[Boolean]("declared_match")))
    // blob spans tile the file: first blob starts after the head magic
    assert(rows(0).getAs[Long]("offset") === 4L)
    assert(rows(1).getAs[Long]("offset") ===
      4L + rows(0).getAs[Long]("length"))
    // a REORDERED but truthful declaration still matches: the spec does
    // not pin blob-metadata to footer order, so matching is by
    // (type, snapshot-id) key, not position
    val mf = new java.io.File(d, "metadata/v1.metadata.json")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    locally {
      val root = mapper.readTree(mf).asInstanceOf[
        com.fasterxml.jackson.databind.node.ObjectNode]
      val bm = root.get("statistics").get(0).get("blob-metadata")
        .asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val first = bm.remove(0)
      bm.add(first) // [theta, dv] -> [dv, theta]
      java.nio.file.Files.write(mf.toPath, mapper.writeValueAsBytes(root))
    }
    val reordered = IcebergMeta.statisticsReport(spark, d)
      .orderBy("blob_idx").collect()
    assert(reordered.length === 2)
    assert(reordered.forall(_.getAs[Boolean]("declared_match")))
    // a LYING declaration (type edited in the metadata JSON) flags
    // declared_match=false for exactly that blob — the footer wins —
    // and the surplus declared entry surfaces as its own blob_idx=-1 row
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"type\":\"apache-datasketches-theta-v1\"",
        "\"type\":\"apache-datasketches-hll-v1\"").getBytes("UTF-8"))
    val flagged = IcebergMeta.statisticsReport(spark, d)
      .orderBy("blob_idx").collect()
    assert(flagged.length === 3)
    val orphan = flagged(0)
    assert(orphan.getAs[Int]("blob_idx") === -1)
    assert(orphan.isNullAt(orphan.fieldIndex("blob_type")))
    assert(orphan.getAs[String]("declared_type") ===
      "apache-datasketches-hll-v1")
    assert(!orphan.getAs[Boolean]("declared_match"))
    val theta = flagged.find(_.getAs[String]("blob_type") ==
      "apache-datasketches-theta-v1").get
    assert(!theta.getAs[Boolean]("declared_match"))
    assert(theta.isNullAt(theta.fieldIndex("declared_type")))
    val dv = flagged.find(_.getAs[String]("blob_type") ==
      "deletion-vector-v1").get
    assert(dv.getAs[Boolean]("declared_match"))
    // a MISSING statistics file refuses (readFooter throws), never an
    // empty report
    assert(new java.io.File(d, "metadata/stats-2.puffin").delete())
    val e = intercept[Exception](
      IcebergMeta.statisticsReport(spark, d).collect())
    assert(causeMessages(e).nonEmpty)
  }

  test("partition-statistics audit: rollups vs manifest aggregation") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_pstats")
      .toString + "/tbl"
    // the partitioned fixture selects (doc_id, n_chars) per slice
    val pdocs = docs.withColumn("n_chars", col("doc_id") % 97)
    val counts = IcebergMeta.writePartitionStatsFixtureTable(spark, d, pdocs)
    val langs = counts.keys.map(_.split("/")(0).stripPrefix("lang="))
      .toSeq.distinct.sorted
    val rows = IcebergMeta.partitionStatsAudit(spark, d)
      .orderBy("partition_key").collect()
    assert(rows.length === langs.length)
    assert(rows.map(_.getAs[String]("partition_key")).toSeq ===
      langs.map(l => s"lang=$l"))
    // only the first lang's declaration lies about data_file_count
    rows.zip(langs).foreach { case (r, lang) =>
      assert(r.getAs[Long]("actual_files") === 2L)
      assert(r.getAs[Boolean]("files_match") === (lang != langs.head))
      assert(r.getAs[Boolean]("rows_match"))
      assert(r.getAs[Boolean]("bytes_match"))
      val expectRows = counts.filter(_._1.startsWith(s"lang=$lang/"))
        .values.sum
      assert(r.getAs[Long]("actual_rows") === expectRows)
      assert(r.getAs[Long]("declared_rows") === expectRows)
    }
    // no partition-statistics entry for the current snapshot → refuse
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_pstats2")
      .toString + "/tbl"
    IcebergMeta.writePartitionedFixtureTable(spark, d2, pdocs)
    val e = intercept[UnsupportedOperationException](
      IcebergMeta.partitionStatsAudit(spark, d2))
    assert(e.getMessage.contains("partition-statistics"))
  }

  test("refs report: branches, tags, dangling detection") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_refs")
      .toString + "/tbl"
    IcebergMeta.writeRefsFixtureTable(spark, d, docs)
    val rows = IcebergMeta.refsReport(spark, d).orderBy("ref_name")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getBoolean(4)))
    assert(rows.toSeq === Seq(
      ("main", "branch", 2L, true, true),
      ("stale", "tag", 99L, false, false), // dangling: snapshot expired
      ("v1", "tag", 1L, true, false)))
    // a table WITHOUT refs reports the implicit main branch (the
    // spec's default) on the current snapshot
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_norefs")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d2, docs)
    val implied = IcebergMeta.refsReport(spark, d2).collect()
    assert(implied.length === 1)
    assert(implied(0).getString(0) === "main")
    assert(implied(0).getLong(2) === 2L)
    assert(implied(0).getBoolean(3) && implied(0).getBoolean(4))
  }

  test("snapshot-summary audit: declared metrics vs manifest lists") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_sum")
      .toString + "/tbl"
    val counts = IcebergMeta.writeSummaryFixtureTable(spark, d, docs)
    val rows = IcebergMeta.snapshotSummaryAudit(spark, d)
      .orderBy("snapshot_id").collect()
    assert(rows.length === 2)
    val s1 = rows(0); val s2 = rows(1)
    val rows1 = counts("f0.parquet") + counts("f1.parquet") + counts("f2.parquet")
    val rows2 = counts("f3.parquet") + counts("f4.parquet")
    assert(s1.getAs[Long]("actual_added_files") === 3L)
    assert(s1.getAs[Long]("actual_added_records") === rows1)
    assert(s1.getAs[Boolean]("files_match") && s1.getAs[Boolean]("records_match"))
    // snap 2: the delete manifest (content=1) never counts as data,
    // and the planted added-records lie is flagged
    assert(s2.getAs[Long]("actual_added_files") === 2L)
    assert(s2.getAs[Long]("actual_added_records") === rows2)
    assert(s2.getAs[Boolean]("files_match"))
    assert(!s2.getAs[Boolean]("records_match"))
    assert(s2.getAs[Long]("declared_added_records") === rows2 + 1)
    // a snapshot declaring NO metrics reports null declared/matches
    // (the base fixture's summaries carry operation only)
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_sum2")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d2, docs)
    val bare = IcebergMeta.snapshotSummaryAudit(spark, d2).collect()
    assert(bare.length === 2)
    assert(bare.forall(r => r.isNullAt(r.fieldIndex("declared_added_files"))
      && r.isNullAt(r.fieldIndex("files_match"))))
    // attribution: snap 2's list REUSES snap 1's manifest m0 VERBATIM
    // (added_snapshot_id=1, original counts 3/rows1 intact); the actuals
    // must count only manifests ADDED BY snap 2 (m2's two adds, never
    // snap 1's 3) — pinned by the true-match
    // assertion on files above. A list whose manifests LACK
    // added_snapshot_id makes the actual side unknowable → null, never
    // a zero flagged as a lie: strip the field from snap-1's list
    val ml = new java.io.File(d, "metadata/snap-1.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      ml, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val rows2b = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) rows2b += reader.next()
    reader.close()
    rows2b.foreach(_.put("added_snapshot_id", null))
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](reader.getSchema))
    writer.create(reader.getSchema, ml)
    rows2b.foreach(writer.append)
    writer.close()
    val stripped = IcebergMeta.snapshotSummaryAudit(spark, d)
      .orderBy("snapshot_id").collect()
    assert(stripped(0).isNullAt(stripped(0).fieldIndex("actual_added_files")))
    assert(stripped(0).isNullAt(stripped(0).fieldIndex("files_match")))
    // snap 2's own list is untouched and still audits
    assert(stripped(1).getAs[Boolean]("files_match"))
  }

  test("metadata-log audit: lineage entries vs disk, hole surfaced") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_mlog")
      .toString + "/tbl"
    IcebergMeta.writeMetadataLogFixtureTable(spark, d, docs)
    val rows = IcebergMeta.metadataLogReport(spark, d)
      .orderBy("timestamp_ms").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
    assert(rows.toSeq === Seq(
      ("v0.metadata.json", 1699999999000L, false), // never existed
      ("v1.metadata.json", 1700000000000L, true)))
    // the numeric-version sort still picks v2 as current (census works)
    assert(IcebergMeta.currentFiles(spark, d).count() === 7L)
    // a table with NO lineage refuses, classified
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_mlog2")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d2, docs)
    val e = intercept[IllegalArgumentException](
      IcebergMeta.metadataLogReport(spark, d2))
    assert(e.getMessage.contains("metadata-log"))
  }

  test("puffin DV manifest entries refuse even when the version lies") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_puffin")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    // rewrite one manifest avro: flip an entry's file_format to PUFFIN
    // (metadata still claims format-version 2 — the per-entry check
    // must catch it anyway)
    val metaDir = new java.io.File(d, "metadata")
    val manifest = metaDir.listFiles()
      .filter(f => f.getName.endsWith(".avro") && !f.getName.startsWith("snap-"))
      .head
    val reader = new org.apache.avro.file.DataFileReader(
      manifest, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val schema = reader.getSchema
    val records = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) records += reader.next()
    reader.close()
    records.head.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .put("file_format", new org.apache.avro.util.Utf8("PUFFIN"))
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    writer.create(schema, manifest)
    records.foreach(writer.append)
    writer.close()
    val e = intercept[Exception](IcebergMeta.currentFiles(spark, d).collect())
    assert(causeMessages(e).contains("Puffin"))
  }

  /** Rewrite m1.avro's delete entries with a new equality_ids list. */
  private def rewriteEqIds(d: String, ids: Seq[Int]): Unit = {
    val manifest = new java.io.File(d, "metadata/m1.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      manifest, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val schema = reader.getSchema
    val records = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) records += reader.next()
    reader.close()
    import scala.jdk.CollectionConverters._
    records.foreach { r =>
      val df = r.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      df.put("equality_ids",
        if (ids.isEmpty) null
        else new org.apache.avro.generic.GenericData.Array[Integer](
          df.getSchema.getField("equality_ids").schema().getTypes.get(1),
          ids.map(Integer.valueOf).asJava))
    }
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](schema))
    writer.create(schema, manifest)
    records.foreach(writer.append)
    writer.close()
  }

  test("partition-spec audit: old-spec files flagged, dangling spec refuses") {
    val d = Files.createTempDirectory("graft_ice_spec").toString + "/tbl"
    IcebergMeta.writeSpecEvolutionFixtureTable(spark, d, docs)
    val rows = IcebergMeta.partitionSpecAudit(spark, d).collect()
      .map(r => (new Path(r.getString(0)).getName, r.getInt(1),
        r.getString(2), r.getBoolean(3))).toSet
    assert(rows === Set(
      ("f0.parquet", 0, "unpartitioned", false),
      ("f1.parquet", 0, "unpartitioned", false),
      ("p0.parquet", 1, "lang=identity(2)", true),
      ("p1.parquet", 1, "lang=identity(2)", true)))
    // a manifest naming an UNDECLARED spec refuses — a dangling spec
    // id breaks every reader that needs the partition types
    val mf = new java.io.File(d, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      txt.replace("{\"spec-id\":1,", "{\"spec-id\":7,").getBytes("UTF-8"))
    val eDangling = intercept[Exception](
      IcebergMeta.partitionSpecAudit(spark, d).collect())
    assert(causeMessages(eDangling).contains("does not declare"))
    // a metadata with NO partition-specs list refuses (v1 legacy)
    val eNone = intercept[Exception](
      IcebergMeta.partitionSpecAudit(spark, table).collect())
    assert(causeMessages(eNone).contains("no partition-specs"))
  }

  test("manifest health: own-row counts, right-sized exclusion, kind split") {
    val rows = IcebergMeta.manifestHealthReport(spark, table).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("m0.avro", "m2.avro", "m3.avro"))
    assert(rows("m0.avro").getAs[Long]("n_added") === 3L)
    assert(rows("m2.avro").getAs[Long]("n_added") === 2L)
    assert(rows("m2.avro").getAs[Long]("n_deleted") === 1L)
    assert(rows("m3.avro").getAs[Int]("content") === 1)
    // under the default 8 MB target every tiny manifest packs; data
    // and delete manifests pack in SEPARATE group sequences (both 0)
    assert(rows.values.forall(_.getAs[Long]("rewrite_group") === 0L))
    // a RIGHT-SIZED manifest never moves: with a target below m0's
    // size, m0 gets a null group while smaller ones still pack
    val m0Len = rows("m0.avro").getAs[Long]("length")
    val tiny = IcebergMeta.manifestHealthReport(spark, table, m0Len)
      .collect().map(r => r.getString(0) ->
        Option(r.get(6)).map(_.asInstanceOf[Long])).toMap
    assert(tiny("m0.avro").isEmpty)
  }

  test("equality-delete plan shape: broadcast null-safe semi, no sort-merge") {
    val d = Files.createTempDirectory("graft_ice_eqplan").toString + "/tbl"
    IcebergMeta.writeEqDeleteFixtureTable(spark, d, docs)
    val plan = IcebergMeta.equalityDeleteRows(spark, d)
      .queryExecution.executedPlan.toString
    // the delete-key side must BROADCAST (it is delete-file-sized) and
    // the join must be a null-safe LeftSemi hash join — a sort-merge
    // here would shuffle the full data scan at 100 TB
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("appends store: baseline, exact increment, no re-emission") {
    val base = Files.createTempDirectory("graft_ice_app").toString
    val d = base + "/tbl"
    val store = base + "/store"
    val ckpt = base + "/ckpt"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val v1 = new java.io.File(d, "metadata/v1.metadata.json")
    val full = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    java.nio.file.Files.write(v1.toPath,
      full.replace("\"current-snapshot-id\":2,", "\"current-snapshot-id\":1,")
        .getBytes("UTF-8"))
    IcebergMeta.maintainAppendsStore(spark, d, store, ckpt)
    val afterA = IcebergMeta.readAppendsStore(spark, store).collect()
      .map(r => (r.getAs[Long]("snapshot_id"),
        new Path(r.getAs[String]("file_path")).getName)).toSet
    assert(afterA === Set((1L, "f0.parquet"), (1L, "f1.parquet"),
      (1L, "f2.parquet")))
    // pass B: snapshot 2 arrives; ONLY its appends land
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/v2.metadata.json").toPath,
      full.getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    IcebergMeta.maintainAppendsStore(spark, d, store, ckpt)
    val afterB = IcebergMeta.readAppendsStore(spark, store).collect()
      .map(r => (r.getAs[Long]("snapshot_id"),
        new Path(r.getAs[String]("file_path")).getName)).toSet
    assert(afterB === afterA ++ Set((2L, "f3.parquet"), (2L, "f4.parquet"),
      (2L, "del0.parquet")))
    // pass C: nothing new — the store is untouched (no re-emission)
    IcebergMeta.maintainAppendsStore(spark, d, store, ckpt)
    val afterC = IcebergMeta.readAppendsStore(spark, store).collect()
      .map(r => (r.getAs[Long]("snapshot_id"),
        new Path(r.getAs[String]("file_path")).getName)).toSet
    assert(afterC === afterB)
  }

  test("expiry plan: compaction leftovers freed, reused manifests blocked") {
    val d = Files.createTempDirectory("graft_ice_exp").toString + "/tbl"
    IcebergMeta.writeCompactedFixtureTable(spark, d, docs)
    val plan = IcebergMeta.expiryPlan(spark, d, 1700000000500L).collect()
      .map(r => (r.getString(0), new Path(r.getString(1)).getName)).toSet
    assert(plan === Set(
      ("snapshot", "1"), ("manifest_list", "snap-1.avro"),
      ("manifest", "m0.avro"),
      ("data_file", "f0.parquet"), ("data_file", "f1.parquet")))
    // real byte sizes ride along for every on-disk object
    IcebergMeta.expiryPlan(spark, d, 1700000000500L).collect()
      .filter(_.getString(0) != "snapshot")
      .foreach(r => assert(r.getLong(2) > 0L))
    // on the base fixture snap 2 REUSES m0: expiring snap 1 frees only
    // the snapshot row + its manifest list — the reused manifest and
    // every file stay
    val base = Files.createTempDirectory("graft_ice_exp2").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, base, docs)
    val reused = IcebergMeta.expiryPlan(spark, base, 1700000000500L)
      .collect().map(r => (r.getString(0),
        new Path(r.getString(1)).getName)).toSet
    assert(reused === Set(
      ("snapshot", "1"), ("manifest_list", "snap-1.avro")))
    // nothing-to-expire refuses — an empty plan must never read as
    // "safe to run"
    val eNone = intercept[Exception](
      IcebergMeta.expiryPlan(spark, d, 1699999999000L))
    assert(causeMessages(eNone).contains("nothing to plan"))
    // a snapshot HELD BY A REF survives any age: the refs fixture tags
    // snap 1 as "v1", so the same cutoff that expired it above now
    // finds nothing to expire
    val refd = Files.createTempDirectory("graft_ice_exp3").toString + "/tbl"
    IcebergMeta.writeRefsFixtureTable(spark, refd, docs)
    val eHeld = intercept[Exception](
      IcebergMeta.expiryPlan(spark, refd, 1700000000500L))
    assert(causeMessages(eHeld).contains("nothing to plan"))
  }

  test("expiry plan: per-ref retention overrides") {
    val d = Files.createTempDirectory("graft_ice_expref").toString + "/tbl"
    IcebergMeta.writeExpiryRefsFixtureTable(spark, d, docs)
    // cutoff ages out 1, 2, 3 — but keep2's min-snapshots-to-keep=2
    // HOLDS its ancestor 2, and oldtag's max-ref-age-ms=500 has
    // expired the ref itself, so the tagged snap 1 still goes
    val plan = IcebergMeta.expiryPlan(spark, d, 1700000002500L).collect()
      .map(r => (r.getString(0), new Path(r.getString(1)).getName)).toSet
    assert(plan === Set(
      ("snapshot", "1"), ("manifest_list", "snap-1.avro"),
      ("manifest", "m1.avro"), ("data_file", "f1.parquet")))
    // a younger cutoff keeps oldtag ALIVE (age <= 500): it holds snap
    // 1, and nothing else ages out — nothing to plan
    val eNone = intercept[Exception](
      IcebergMeta.expiryPlan(spark, d, 1700000000400L))
    assert(causeMessages(eNone).contains("nothing to plan"))
  }

  test("incremental append scan: attribution, entry-committer override, refusals") {
    val d = Files.createTempDirectory("graft_ice_incr").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val rows = IcebergMeta.appendedFiles(spark, d, 1L, 2L).collect()
      .map(r => (new Path(r.getString(0)).getName, r.getInt(1),
        r.getLong(3))).toSet
    // snap 2 added f3, f4 (data) and del0 (position deletes); the
    // reused snap-1 manifest contributes nothing; f5's DELETED entry
    // is not an append
    assert(rows === Set(
      ("f3.parquet", 0, counts2(d, "f3.parquet")),
      ("f4.parquet", 0, counts2(d, "f4.parquet")),
      ("del0.parquet", 1, 2L)))
    // an entry's OWN snapshot_id overrides manifest attribution
    // (compacted manifests keep original committers): stamp f3's entry
    // with snapshot 1 → it drops out of the (1, 2] increment
    val m2 = new java.io.File(d, "metadata/m2.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      m2, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val recs = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) recs += reader.next()
    reader.close()
    recs.find(_.get("data_file")
      .asInstanceOf[org.apache.avro.generic.GenericRecord]
      .get("file_path").toString.endsWith("f3.parquet"))
      .get.put("snapshot_id", 1L)
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](reader.getSchema))
    writer.create(reader.getSchema, m2)
    recs.foreach(writer.append)
    writer.close()
    val overridden = IcebergMeta.appendedFiles(spark, d, 1L, 2L).collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    assert(overridden === Set("f4.parquet", "del0.parquet"))
    // refusals: unknown snapshot, reversed range
    val eUnknown = intercept[Exception](
      IcebergMeta.appendedFiles(spark, d, 1L, 99L))
    assert(causeMessages(eUnknown).contains("no snapshot 99"))
    val eRev = intercept[Exception](
      IcebergMeta.appendedFiles(spark, d, 2L, 1L))
    assert(causeMessages(eRev).contains("not strictly before"))
  }

  private def counts2(d: String, f: String): Long =
    spark.read.parquet(s"$d/data/$f").count()

  test("changelog scan: row-level inserts + resolved deletes") {
    val d = Files.createTempDirectory("graft_ice_changelog").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val feed = IcebergMeta.changelogScan(spark, d, 1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // inserts = f3+f4 rows; deletes = del0's two positions of f0
    // resolved to REAL rows, PLUS every row of the REMOVED f5 (the
    // copy-on-write whole-file delete the range's status=2 entry
    // records — dropping it would resurrect those rows)
    assert(feed("insert") ===
      counts2(d, "f3.parquet") + counts2(d, "f4.parquet"))
    assert(feed("delete") === 2L + counts2(d, "f5.parquet"))
    val deleted = IcebergMeta.changelogScan(spark, d, 1L, 2L)
      .filter(col("_change_type") === "delete")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = spark.read.parquet(s"$d/data/f0.parquet")
      .limit(2).collect().map(_.getLong(0)).toSet ++
      spark.read.parquet(s"$d/data/f5.parquet")
        .collect().map(_.getLong(0)).toSet
    assert(deleted === expect)
    // an appended EQUALITY delete RESOLVES row-wise: deletes are the
    // sequence-scoped f0/f1 rows its keys match — doc 0,1,2 (eq0),
    // doc 4 and 8 (eq1; null-safe lang match) — each ONCE (doc 0
    // matches both delete files); the same-sequence f2 rows that
    // reuse matched keys all survive, and f2's rows are the inserts
    val d2 = Files.createTempDirectory("graft_ice_changelog2").toString + "/tbl"
    IcebergMeta.writeEqDeleteFixtureTable(spark, d2, docs)
    val eqFeed = IcebergMeta.changelogScan(spark, d2, 1L, 2L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(eqFeed.filter(_._2 == "insert").map(_._1).sorted.toSeq ===
      Seq(0L, 4L, 8L))
    assert(eqFeed.filter(_._2 == "delete").map(_._1).sorted.toSeq ===
      Seq(0L, 1L, 2L, 4L, 8L))
  }

  test("changelog scan: deletion vectors resolve, supersession subtracts") {
    val d = Files.createTempDirectory("graft_ice_dvcl").toString + "/tbl"
    IcebergMeta.writeDvChangelogFixtureTable(spark, d, docs)
    def posDocs(f: String, ps: Seq[Long]): Set[Long] =
      spark.read.parquet(s"$d/data/$f")
        .withColumn("pos", col("_metadata.row_index"))
        .filter(col("pos").isin(ps: _*))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    // (1,2]: the appended vectors' positions die — exactly those rows
    val feed12 = IcebergMeta.changelogScan(spark, d, 1L, 2L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed12.forall(_._2 == "delete"))
    assert(feed12.map(_._1).toSet ===
      posDocs("f0.parquet", Seq(1L, 3L, 5L)) ++
        posDocs("f1.parquet", Seq(0L, 2L)))
    // (2,3]: the superseding vector widens {1,3,5} → {1,3,5,7}; only
    // the NEWLY-dead position 7 reports
    val feed23 = IcebergMeta.changelogScan(spark, d, 2L, 3L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed23.map(_._1).toSet === posDocs("f0.parquet", Seq(7L)))
    // the full range (1,3]: the mid-range vector is CANCELLED by its
    // in-range supersession, so the net effect is the FINAL vectors'
    // positions once each — f0 {1,3,5,7} + f1 {0,2}
    val feed13 = IcebergMeta.changelogScan(spark, d, 1L, 3L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(feed13 ===
      posDocs("f0.parquet", Seq(1L, 3L, 5L, 7L)) ++
        posDocs("f1.parquet", Seq(0L, 2L)))
  }

  test("changelog scan by NAMED refs: tag-to-branch resolves, bad refs refuse") {
    val d = Files.createTempDirectory("graft_ice_refcl").toString + "/tbl"
    IcebergMeta.writeRefsFixtureTable(spark, d, docs)
    // (v1 tag → main branch) = the id-anchored (1, 2] feed
    val byRef = IcebergMeta.changelogScanRef(spark, d, "v1", "main")
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val byId = IcebergMeta.changelogScan(spark, d, 1L, 2L)
      .groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byRef === byId)
    // a dangling ref refuses at snapshot resolution
    val eStale = intercept[Exception](
      IcebergMeta.changelogScanRef(spark, d, "stale", "main"))
    assert(causeMessages(eStale).contains("no snapshot 99"))
    // an unknown ref refuses with the declared names
    val eUnknown = intercept[IllegalArgumentException](
      IcebergMeta.changelogScanRef(spark, d, "nope", "main"))
    assert(eUnknown.getMessage.contains("no ref 'nope'"))
    // same ref both ends = an empty range
    val eSame = intercept[IllegalArgumentException](
      IcebergMeta.changelogScanRef(spark, d, "main", "main"))
    assert(eSame.getMessage.contains("equals"))
  }

  test("changelog scan: a transient file emits its insert+delete pair") {
    val d = Files.createTempDirectory("graft_ice_transient").toString + "/tbl"
    IcebergMeta.writeTransientFixtureTable(spark, d, docs)
    def docsOf(f: String): Set[Long] =
      spark.read.parquet(s"$d/data/$f")
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (fT, f2) = (docsOf("fT.parquet"), docsOf("f2.parquet"))
    // (1,3]: fT was added at snap 2 AND removed at snap 3 — both legs
    // must report, plus f2's plain insert; the add evidence lives only
    // in snap 2's own manifest list
    val feed13 = IcebergMeta.changelogScan(spark, d, 1L, 3L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val ins13 = feed13.filter(_._2 == "insert").map(_._1).toSet
    val del13 = feed13.filter(_._2 == "delete").map(_._1).toSet
    assert(ins13 === fT ++ f2)
    assert(del13 === fT)
    // (1,2]: just fT's insert — no phantom delete
    val feed12 = IcebergMeta.changelogScan(spark, d, 1L, 2L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed12.forall(_._2 == "insert"))
    assert(feed12.map(_._1).toSet === fT)
    // (2,3]: fT was LIVE at from, so its removal alone is the truth —
    // no phantom insert; f2's insert rides along
    val feed23 = IcebergMeta.changelogScan(spark, d, 2L, 3L)
      .select("doc_id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed23.filter(_._2 == "insert").map(_._1).toSet === f2)
    assert(feed23.filter(_._2 == "delete").map(_._1).toSet === fT)
  }

  test("changelog scan: replace skipped, referenced removal refuses") {
    // a REPLACE (compaction) snapshot changes no logical rows: its
    // adds and removals contribute nothing, and an all-replace range
    // refuses as empty rather than emitting phantom changes
    val d = Files.createTempDirectory("graft_ice_changelog3").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val mf = new java.io.File(d, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath), "UTF-8")
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"operation\":\"overwrite\"", "\"operation\":\"replace\"")
        .getBytes("UTF-8"))
    val eEmpty = intercept[Exception](
      IcebergMeta.changelogScan(spark, d, 1L, 2L))
    assert(causeMessages(eEmpty).contains("no changelog"))
    // a removed data file that a live position-delete file references
    // had dead rows already — whole-file delete rows would over-report
    val d4 = Files.createTempDirectory("graft_ice_changelog4").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d4, docs)
    val f5Abs = new java.io.File(d4, "data/f5.parquet").getAbsolutePath
    val tmp = d4 + "_refdel"
    locally {
      import spark.implicits._
      Seq((f5Abs, 0L)).toDF("file_path", "pos")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
    }
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(d4, "data/del0.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val eRef = intercept[Exception](
      IcebergMeta.changelogScan(spark, d4, 1L, 2L))
    assert(causeMessages(eRef).contains("already dead"))
  }

  test("incremental range walks parent-snapshot-id lineage over wall clock") {
    val d = Files.createTempDirectory("graft_ice_lineage").toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d, docs)
    val mf = new java.io.File(d, "metadata/v1.metadata.json")
    def rewrite(from: String, to: String): Unit = {
      val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      assert(txt.contains(from), from)
      java.nio.file.Files.write(mf.toPath, txt.replace(from, to)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    // snap 2 gains a parent pointer AND shares snap 1's millisecond —
    // the shape the timestamp fallback refuses; lineage must RESOLVE it
    rewrite("""{"snapshot-id":2,"timestamp-ms":1700000001000,""",
      """{"snapshot-id":2,"parent-snapshot-id":1,""" +
        """"timestamp-ms":1700000000000,""")
    val rows = IcebergMeta.appendedFiles(spark, d, 1L, 2L).collect()
      .map(r => new Path(r.getString(0)).getName).toSet
    assert(rows === Set("f3.parquet", "f4.parquet", "del0.parquet"))
    // reversed: snap 1 is not a descendant of... anything — the walk
    // from snap 1 never reaches snap 2 and refuses by lineage
    val eRev = intercept[Exception](
      IcebergMeta.appendedFiles(spark, d, 2L, 1L))
    assert(causeMessages(eRev).contains("not an ancestor"))
    // a parent the metadata no longer lists breaks the chain
    rewrite(""""parent-snapshot-id":1,""", """"parent-snapshot-id":42,""")
    val eBroken = intercept[Exception](
      IcebergMeta.appendedFiles(spark, d, 1L, 2L))
    assert(causeMessages(eBroken).contains("expired mid-chain"))
  }

  test("ndv audit: theta sketches decoded, lying declaration flagged") {
    val d = Files.createTempDirectory("graft_ice_ndv").toString + "/tbl"
    IcebergMeta.writeNdvFixtureTable(spark, d, docs)
    val live = docs.filter(pmod(col("doc_id"), lit(6)) < 5)
    val langNdv = live.select("lang").distinct().count()
    val docNdv = live.select("doc_id").distinct().count()
    val rows = IcebergMeta.ndvAudit(spark, d).orderBy("fields_csv").collect()
    assert(rows.length === 2)
    val byField = rows.map(r => r.getString(2) -> r).toMap
    val langRow = byField("lang")
    assert(langRow.getAs[Long]("sketch_ndv") === langNdv)
    assert(langRow.getAs[Long]("declared_ndv") === langNdv + 3)
    assert(!langRow.getAs[Boolean]("ndv_match"))
    val docRow = byField("doc_id")
    assert(docRow.getAs[Long]("sketch_ndv") === docNdv)
    assert(docRow.getAs[Boolean]("ndv_match"))
    // a blob declaring no ndv reports null declared/match, never dropped
    val statsFile = new java.io.File(d, "metadata/ndv-2.puffin")
    PuffinCodec.writePuffinFile(statsFile, Seq(
      (PuffinCodec.ThetaV1, Map.empty[String, String],
        PuffinCodec.encodeThetaSketchExact(7L))),
      snapshotId = 2L, sequenceNumber = 2L, fieldsPerBlob = Seq(Seq(2)))
    val bare = IcebergMeta.ndvAudit(spark, d).collect()
    assert(bare.length === 1)
    assert(bare(0).isNullAt(bare(0).fieldIndex("declared_ndv")))
    assert(bare(0).isNullAt(bare(0).fieldIndex("ndv_match")))
    assert(bare(0).getAs[Long]("sketch_ndv") === 7L)
    // a table declaring NO statistics refuses — nothing to audit
    val e = intercept[Exception](IcebergMeta.ndvAudit(spark, table).collect())
    assert(causeMessages(e).contains("no statistics files"))
  }

  test("equality deletes: row-wise resolution, null keys, refusals") {
    val d = Files.createTempDirectory("graft_ice_eq").toString + "/tbl"
    val counts = IcebergMeta.writeEqDeleteFixtureTable(spark, d, docs)
    val rows = IcebergMeta.equalityDeleteRows(spark, d).collect()
      .map(r => (new Path(r.getString(0)).getName, r.getString(1),
        r.getString(2)))
    // eq0 (doc_id): 0, 1, 2 resolve (parity routes 0,2→f0 and 1→f1);
    // the -1 key deletes nothing
    val single = rows.filter(_._2 == "doc_id").toSet
    assert(single === Set(
      ("f0.parquet", "doc_id", "0"),
      ("f1.parquet", "doc_id", "1"),
      ("f0.parquet", "doc_id", "2")))
    // eq1 (doc_id, lang): doc 4 matches its real lang; doc 8 matches
    // with NULL lang (null equals null); doc 6's wrong lang matches
    // nothing
    val multi = rows.filter(_._2 == "doc_id,lang").toSet
    assert(multi === Set(
      ("f0.parquet", "doc_id,lang", "4|4"),
      ("f0.parquet", "doc_id,lang", "8|NULL"),
      ("f0.parquet", "doc_id,lang", "0|NULL"))) // doc 0: both id sets
    // SEQUENCE SCOPING: f2 (sequence 2, the deletes' own commit) holds
    // three rows whose keys ALL match delete keys — none may appear
    // (strictly-less scope: a commit's data survives its own deletes)
    assert(!rows.exists(_._1 == "f2.parquet"))
    // exact net census: doc 0 is matched by BOTH id sets but counted
    // ONCE (distinct positions); f2 is out of scope and reports 0
    val census = IcebergMeta.equalityNetCensus(spark, d).collect()
      .map(r => (new Path(r.getString(0)).getName,
        r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val c0 = counts("f0.parquet"); val c1 = counts("f1.parquet")
    assert(census === Set(
      ("f0.parquet", c0, 4L, c0 - 4L), // 0, 2 (eq0) + 4, 8 (eq1); 0 once
      ("f1.parquet", c1, 1L, c1 - 1L), // doc 1
      ("f2.parquet", 3L, 0L, 3L)))
    // the position audit refuses on this table, pointing here
    val ePos = intercept[Exception](
      IcebergMeta.positionDeleteRows(spark, d).collect())
    assert(causeMessages(ePos).contains("equality delete files are live"))
    // the census refuses too: equality record_count is predicate rows,
    // not deleted data rows — subtracting it would miscount
    val eCensus = intercept[Exception](
      MetaValues.tableCensus(spark, d).collect())
    assert(causeMessages(eCensus).contains("equality delete files are live"))
    // a table with NO live equality deletes refuses (nothing to resolve)
    val eNone = intercept[Exception](
      IcebergMeta.equalityDeleteRows(spark, table).collect())
    assert(causeMessages(eNone).contains("no equality delete files"))
    // an id the current schema does not declare refuses, ids named
    rewriteEqIds(d, Seq(9))
    val eUnknown = intercept[Exception](
      IcebergMeta.equalityDeleteRows(spark, d).collect())
    assert(causeMessages(eUnknown).contains("field id 9"))
    // a float/double equality column refuses (NaN-equality hazard)
    rewriteEqIds(d, Seq(3))
    val eDouble = intercept[Exception](
      IcebergMeta.equalityDeleteRows(spark, d).collect())
    assert(causeMessages(eDouble).contains("'score' is double"))
    // a delete entry with NO equality_ids refuses rather than guessing
    rewriteEqIds(d, Nil)
    val eNoIds = intercept[Exception](
      IcebergMeta.equalityDeleteRows(spark, d).collect())
    assert(causeMessages(eNoIds).contains("declares no equality_ids"))
    // MIXED sequence evidence refuses: a fresh fixture with one
    // manifest-list entry's sequence_number nulled out — the scope is
    // unknowable either way
    val d2 = Files.createTempDirectory("graft_ice_eqmix").toString + "/tbl"
    IcebergMeta.writeEqDeleteFixtureTable(spark, d2, docs)
    val ml = new java.io.File(d2, "metadata/snap-2.avro")
    val reader = new org.apache.avro.file.DataFileReader(
      ml, new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericRecord]())
    val recs = new scala.collection.mutable.ArrayBuffer[
      org.apache.avro.generic.GenericRecord]
    while (reader.hasNext) recs += reader.next()
    reader.close()
    recs.find(_.get("manifest_path").toString.endsWith("m2.avro"))
      .get.put("sequence_number", null)
    val writer = new org.apache.avro.file.DataFileWriter(
      new org.apache.avro.generic.GenericDatumWriter[
        org.apache.avro.generic.GenericRecord](reader.getSchema))
    writer.create(reader.getSchema, ml)
    recs.foreach(writer.append)
    writer.close()
    val eMix = intercept[Exception](
      IcebergMeta.equalityDeleteRows(spark, d2).collect())
    assert(causeMessages(eMix).contains("MIXED"))
  }

  test("manifest-bounds pruning: bounds decode, no-evidence survival") {
    val d = Files.createTempDirectory("graft_ice_bounds").toString + "/tbl"
    // docs 0..599 -> quartile files [0,149][150,299][300,449][450,599]
    IcebergMeta.writeBoundsFixtureTable(spark, d, docs)
    val rows = IcebergMeta
      .manifestBoundsPrune(spark, d, "doc_id", 100L, 200L).collect()
      .map(r => new Path(r.getString(0)).getName ->
        ((Option(r.get(1)), Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(rows("f0.parquet") === ((Some(0L), Some(149L), true)))
    assert(rows("f1.parquet") === ((Some(150L), Some(299L), true)))
    // f2/f3 are PROVABLY disjoint from [100, 200] — pruned
    assert(rows("f2.parquet") === ((Some(300L), Some(449L), false)))
    assert(rows("f3.parquet") === ((Some(450L), Some(599L), false)))
    // the bounds-less file survives any range: no evidence never prunes
    assert(rows("nb.parquet") === ((None, None, true)))
    // unknown column and non-integer column refuse
    val eCol = intercept[Exception](
      IcebergMeta.manifestBoundsPrune(spark, d, "nope", 0L, 1L))
    assert(causeMessages(eCol).contains("no field 'nope'"))
    val eStr = intercept[Exception](
      IcebergMeta.manifestBoundsPrune(spark, d, "lang", 0L, 1L))
    assert(causeMessages(eStr).contains("'lang' is string"))
    // the EXECUTABLE form scans ONLY the surviving files (f0, f1, nb)
    // and, composed with the predicate, equals the full-scan answer
    val pruned = IcebergMeta.readBoundsPruned(spark, d, "doc_id", 100L, 200L)
    val scanned = pruned.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.inputFiles.map(p => new Path(p).getName).toSet
    }.flatten.toSet
    assert(scanned === Set("f0.parquet", "f1.parquet", "nb.parquet"))
    assert(pruned.filter(col("doc_id").between(100L, 200L)).count() ===
      spark.read.parquet(s"$d/data/f0.parquet", s"$d/data/f1.parquet",
        s"$d/data/f2.parquet", s"$d/data/f3.parquet")
        .filter(col("doc_id").between(100L, 200L)).count())
    // a range outside every bounded file still scans nb (no bounds =
    // always survives) and ONLY nb
    val none = IcebergMeta.readBoundsPruned(spark, d, "doc_id", -99L, -90L)
    assert(none.columns.toSeq === Seq("doc_id", "lang"))
    assert(none.count() ===
      spark.read.parquet(s"$d/data/nb.parquet").count())
  }

  test("typed manifest bounds: date, decimal, string range prune") {
    val d = Files.createTempDirectory("graft_ice_tbounds").toString + "/tbl"
    IcebergMeta.writeTypedBoundsFixtureTable(spark, d, docs)
    val data = spark.read.parquet(s"$d/data")
      .withColumn("file", element_at(
        split(col("_metadata.file_path"), "/"), -1))
    // conservatism is THE property: a pruned file must provably hold
    // zero in-range rows, and surviving files must hold every one
    def check(rep: Array[org.apache.spark.sql.Row],
        inRange: org.apache.spark.sql.Column): Unit = {
      val survives = rep.map(r =>
        new Path(r.getString(0)).getName -> r.getBoolean(3)).toMap
      assert(survives.values.exists(identity) &&
        survives.values.exists(!_), s"undiscriminating probe: $survives")
      val counts = data.groupBy("file")
        .agg(sum(when(inRange, 1L).otherwise(0L)).as("hits"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      survives.foreach { case (f, s) =>
        if (!s) assert(counts(f) === 0L, s"pruned $f holds in-range rows")
      }
      assert(survives.collect { case (f, true) => counts(f) }.sum ===
        counts.values.sum)
    }
    check(IcebergMeta.manifestBoundsPruneDate(
      spark, d, "d", "2020-02-01", "2020-03-15").collect(),
      col("d").between("2020-02-01", "2020-03-15"))
    check(IcebergMeta.manifestBoundsPruneDecimal(
      spark, d, "amount", BigDecimal("10.00"), BigDecimal("17.25"))
      .collect(),
      col("amount").between(BigDecimal("10.00"), BigDecimal("17.25")))
    // wrong-type refusals
    val eDate = intercept[Exception](
      IcebergMeta.manifestBoundsPruneDate(spark, d, "amount",
        "2020-01-01", "2020-01-02"))
    assert(causeMessages(eDate).contains("only date bounds"))
    val eDec = intercept[Exception](
      IcebergMeta.manifestBoundsPruneDecimal(spark, d, "d",
        BigDecimal(0), BigDecimal(1)))
    assert(causeMessages(eDec).contains("only decimal bounds"))
    // string RANGE: probing exactly s1's [min, max] keeps s1, prunes
    // s0 (its upper sits strictly below s1's lower)
    val d2 = Files.createTempDirectory("graft_ice_sbrange").toString + "/tbl"
    IcebergMeta.writeStringBoundsFixtureTable(spark, d2, docs)
    val mm = spark.read.parquet(s"$d2/data/s1.parquet")
      .agg(min("lang"), max("lang")).head()
    val sr = IcebergMeta.manifestBoundsPruneStringRange(
      spark, d2, "lang", mm.getString(0), mm.getString(1))
      .collect().map(r =>
        new Path(r.getString(0)).getName -> r.getBoolean(3)).toMap
    assert(sr === Map("s0.parquet" -> false, "s1.parquet" -> true))
  }

  test("manifest-list partition summaries prune whole manifests") {
    val d = Files.createTempDirectory("graft_ice_sumprune").toString + "/tbl"
    val counts = IcebergMeta.writeSummaryPruneFixtureTable(spark, d, docs)
    val rep = IcebergMeta.manifestSummaryPrune(spark, d, "part", 0L, 1L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(3), r.getLong(4), r.getBoolean(5)))).toMap
    assert(rep("m0.avro") === ((0L, 1L, true)))
    assert(rep("m1.avro") === ((2L, 3L, false)))
    // refusals: a non-partition column has nothing to prune on
    val eNoSpec = intercept[Exception](
      IcebergMeta.manifestSummaryPrune(spark, d, "doc_id", 0L, 1L))
    assert(causeMessages(eNoSpec).contains("identity(doc_id)"))
    // the bounds tier NEVER OPENS the pruned manifest: corrupt m1 on
    // disk — the partition-ranged walk still answers from m0 alone...
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/m1.avro").toPath,
      "not avro at all".getBytes("UTF-8"))
    val pruned = IcebergMeta.manifestBoundsPrune(spark, d, "part", 0L, 1L)
      .collect().map(r => new Path(r.getString(0)).getName).toSet
    assert(pruned === Set("f0.parquet", "f1.parquet"))
    val rows = IcebergMeta.readBoundsPruned(spark, d, "part", 0L, 1L)
    assert(rows.count() === counts("f0.parquet") + counts("f1.parquet"))
    // ...while an unranged walk must open every manifest and fail on
    // the corruption — proof the file is genuinely unreadable
    val eCorrupt = intercept[Exception](
      IcebergMeta.boundsClusteringReport(spark, d, "part").collect())
    assert(eCorrupt != null)
  }

  test("rollback plan: later-added files removed, no-op refuses") {
    val plan = IcebergMeta.rollbackPlan(spark, table, 1L).collect()
      .map(r => (r.getString(0), new Path(r.getString(1)).getName)).toSet
    // snap 2 added f3/f4 on top of the reused snap-1 manifest; snap 1
    // needs nothing re-added
    assert(plan === Set(("remove", "f3.parquet"), ("remove", "f4.parquet")))
    // rolling back to the current snapshot is an empty plan — refused
    val eNoop = intercept[Exception](IcebergMeta.rollbackPlan(spark, table, 2L))
    assert(causeMessages(eNoop).contains("SAME live data files"))
    // an unknown snapshot rides filesAt's refusal
    val eBad = intercept[Exception](IcebergMeta.rollbackPlan(spark, table, 9L))
    assert(causeMessages(eBad).contains("no snapshot 9"))
  }

  test("manifest-metrics audit: declared counts vs footers, lie flagged") {
    val d = Files.createTempDirectory("graft_ice_metrics").toString + "/tbl"
    IcebergMeta.writeMetricsFixtureTable(spark, d, docs)
    val rows = IcebergMeta.metricsAudit(spark, d, "lang").collect()
      .map(r => r.getString(0) -> r).toMap
    // f0 declares the truth: both metrics match
    assert(rows("f0.parquet").getBoolean(5) &&
      rows("f0.parquet").getBoolean(6))
    // f1's declared null count lies by one — exactly nulls_match flips
    assert(rows("f1.parquet").getBoolean(5) &&
      !rows("f1.parquet").getBoolean(6))
    assert(rows("f1.parquet").getLong(2) ===
      rows("f1.parquet").getLong(4) + 1)
    // f2 declares nothing: surfaced with null declared and null matches
    assert(rows("f2.parquet").isNullAt(1) && rows("f2.parquet").isNullAt(5))
    // a column nothing declares metrics for refuses
    val eNone = intercept[Exception](
      IcebergMeta.metricsAudit(spark, d, "doc_id").collect())
    assert(causeMessages(eNone).contains("nothing to audit"))
  }

  test("string manifest bounds: equality probe prunes by UTF-8 range") {
    val d = Files.createTempDirectory("graft_ice_sbounds").toString + "/tbl"
    // langs "0".."4" -> s0 holds {0,1,2}, s1 holds {3,4}
    IcebergMeta.writeStringBoundsFixtureTable(spark, d, docs)
    def verdicts(v: String): Map[String, Boolean] =
      IcebergMeta.manifestBoundsPruneString(spark, d, "lang", v).collect()
        .map(r => new Path(r.getString(0)).getName -> r.getBoolean(3)).toMap
    assert(verdicts("2") === Map("s0.parquet" -> true, "s1.parquet" -> false))
    assert(verdicts("3") === Map("s0.parquet" -> false, "s1.parquet" -> true))
    // a probe between the halves prunes BOTH; one outside prunes both
    assert(verdicts("2a").values.forall(_ == false))
    assert(verdicts("9").values.forall(_ == false))
    // an integer column refuses the string comparator
    val eInt = intercept[Exception](
      IcebergMeta.manifestBoundsPruneString(spark, d, "doc_id", "0"))
    assert(causeMessages(eInt).contains("'doc_id' is long"))
  }

  test("merged census: both delete shapes, overlap counted once") {
    val d = Files.createTempDirectory("graft_ice_merged").toString + "/tbl"
    IcebergMeta.writeMergedDeleteFixtureTable(spark, d, docs)
    val rows = IcebergMeta.mergedNetCensus(spark, d).collect()
      .map(r => new Path(r.getString(0)).getName ->
        ((r.getLong(2), r.getLong(1) - r.getLong(3)))).toMap
    // f0: eq positions {0,1,2,4} (docs 0,2 / 4,8) ∪ pd0's {0,5} — the
    // overlap at 0 counts once, position-only 5 adds real evidence
    assert(rows("f0.parquet") === (5L, 5L))
    assert(rows("f1.parquet") === (1L, 1L)) // doc 1, eq only
    assert(rows("f2.parquet") === (0L, 0L)) // out of every scope
    // the single-shape paths keep their contracts on this table
    val ePos = intercept[Exception](
      IcebergMeta.positionDeleteRows(spark, d).collect())
    assert(causeMessages(ePos).contains("equality delete files are live"))
    assert(IcebergMeta.equalityNetCensus(spark, d).collect()
      .map(r => r.getLong(2)).sum === 5L) // 4 + 1, no position evidence
    // a table with NO deletes of either shape refuses
    val d2 = Files.createTempDirectory("graft_ice_merged2").toString + "/tbl"
    IcebergMeta.writeCompactedFixtureTable(spark, d2, docs)
    val eNone = intercept[Exception](
      IcebergMeta.mergedNetCensus(spark, d2).collect())
    assert(causeMessages(eNone).contains("no delete files of either shape"))
  }

  test("snapshot-log audit: dangling + non-monotone entries surface") {
    val d = Files.createTempDirectory("graft_ice_snlog").toString + "/tbl"
    IcebergMeta.writeSnapshotLogFixtureTable(spark, d, docs)
    val rows = IcebergMeta.snapshotLogReport(spark, d).orderBy("idx")
      .collect().map(r => (r.getLong(1), r.getBoolean(3),
        r.getBoolean(4), r.getBoolean(5)))
    assert(rows.toSeq === Seq(
      (1L, true, false, true),   // listed, not current, vacuously monotone
      (2L, true, true, true),    // listed, current, forward in time
      (99L, false, false, false))) // dangling AND clock-skewed
    // a log-less table refuses — nothing to audit
    val eNone = intercept[Exception](
      IcebergMeta.snapshotLogReport(spark, table).collect())
    assert(causeMessages(eNone).contains("no snapshot-log"))
  }

  test("expiry plan reclaims expired snapshots' statistics files") {
    val d = Files.createTempDirectory("graft_ice_xps").toString + "/tbl"
    IcebergMeta.writeExpiryStatsFixtureTable(spark, d, docs)
    val stats = IcebergMeta.expiryPlan(spark, d, 1700000000500L).collect()
      .filter(_.getString(0) == "statistics")
      .map(r => new Path(r.getString(1)).getName -> r.getLong(2)).toMap
    // snap 1's puffin AND partition-stats land with their declared
    // sizes; snap 2's puffin survives with its snapshot
    assert(stats.keySet === Set("stats-1.puffin",
      "partition-stats-1.parquet"))
    assert(stats.values.forall(_ > 0L))
    assert(stats("stats-1.puffin") ===
      new java.io.File(d, "metadata/stats-1.puffin").length())
  }

  test("filesAtRef: branch/tag reads, implicit main, refusals") {
    val d = Files.createTempDirectory("graft_ice_refread").toString + "/tbl"
    IcebergMeta.writeRefsFixtureTable(spark, d, docs)
    def live(ref: String): Set[String] =
      IcebergMeta.filesAtRef(spark, d, ref)
        .filter(col("status") =!= 2 && col("content") === 0)
        .collect().map(r => new Path(r.getAs[String]("abs_path")).getName)
        .toSet
    // the v1 tag sees the PRE-overwrite file set; main the current one
    assert(live("v1") === Set("f0.parquet", "f1.parquet", "f2.parquet"))
    assert(live("main") === Set("f0.parquet", "f1.parquet", "f2.parquet",
      "f3.parquet", "f4.parquet"))
    // a DANGLING ref (stale -> expired 99) refuses via filesAt, never
    // silently falls back to current
    val eStale = intercept[Exception](
      IcebergMeta.filesAtRef(spark, d, "stale").collect())
    assert(causeMessages(eStale).contains("no snapshot 99"))
    // an unknown ref refuses with the declared names
    val eRef = intercept[Exception](IcebergMeta.filesAtRef(spark, d, "dev"))
    assert(causeMessages(eRef).contains("no ref 'dev'"))
    // a refs-less table still serves the spec's implicit main
    assert(IcebergMeta.filesAtRef(spark, table, "main")
      .filter(col("status") =!= 2 && col("content") === 0).count() === 5L)
  }

  test("sort-order audit: declared order vs footer intervals") {
    val d = Files.createTempDirectory("graft_ice_sort").toString + "/tbl"
    IcebergMeta.writeSortOrderFixtureTable(spark, d, docs)
    val rows = IcebergMeta.sortOrderAudit(spark, d).collect()
      .map(r => r.getString(0) ->
        (r.getInt(1), r.getString(2), r.getBoolean(5))).toMap
    assert(rows.keySet === Set("f0.parquet", "f1.parquet",
      "f2.parquet", "f3.parquet"))
    assert(rows.values.forall(_._1 == 1))
    assert(rows.values.forall(
      _._2 == "identity(doc_id) asc nulls-first"))
    // the planted straggler makes f2 dip into f0's range; f2 also
    // shadows f1 (its max spans q2) — f0 and f3 stay clean
    assert(rows("f0.parquet")._3 && rows("f3.parquet")._3)
    assert(!rows("f1.parquet")._3 && !rows("f2.parquet")._3)
    // a table declaring no sort order refuses — nothing to audit
    val eNone = intercept[Exception](IcebergMeta.sortOrderAudit(spark, table))
    assert(causeMessages(eNone).contains("no default-sort-order-id"))
    // a non-identity leading transform refuses (not measurable from
    // column stats)
    val mf = new java.io.File(d, "metadata/v1.metadata.json")
    val txt = new String(java.nio.file.Files.readAllBytes(mf.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"transform\":\"identity\"", "\"transform\":\"bucket[4]\"")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val eXform = intercept[Exception](IcebergMeta.sortOrderAudit(spark, d))
    assert(causeMessages(eXform).contains("bucket[4]"))
    // a default id naming the UNSORTED order refuses
    java.nio.file.Files.write(mf.toPath,
      txt.replace("\"default-sort-order-id\":1", "\"default-sort-order-id\":0")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val eUnsorted = intercept[Exception](IcebergMeta.sortOrderAudit(spark, d))
    assert(causeMessages(eUnsorted).contains("unsorted"))
  }

  test("partitioned equality deletes: partition scope + one data scan") {
    val d = Files.createTempDirectory("graft_ice_eqpart").toString + "/tbl"
    // lang independent of key (key = doc_id % 50): every key value
    // exists in BOTH partitions — the cross-partition recurrence the
    // scope rule exists for
    val pdocs = spark.range(0, 100).select(col("id").as("doc_id"),
      when(col("id") < 50, lit("aa")).otherwise(lit("bb")).as("lang"))
    val counts =
      IcebergMeta.writeEqDeletePartitionedFixtureTable(spark, d, pdocs)
    assert(counts === Map("fA.parquet" -> 50L, "fB.parquet" -> 50L))
    val rows = IcebergMeta.equalityDeleteRows(spark, d).collect()
      .map(r => (new Path(r.getString(0)).getName, r.getString(2))).toSet
    // the partition-scoped delete (keys 0,1,2 @ lang=aa) hits fA only
    assert(Set("0", "1", "2").forall(k => rows(("fA.parquet", k))))
    // CROSS-PARTITION SURVIVORS: the same keys exist in fB and live on
    // (a table-wide application would kill them)
    assert(!rows.exists(r => r._1 == "fB.parquet" && Set("0", "1", "2")(r._2)))
    // the GLOBAL delete (key 7, written under the unpartitioned spec)
    // reaches both partitions
    assert(rows(("fA.parquet", "7")) && rows(("fB.parquet", "7")))
    val census = IcebergMeta.equalityNetCensus(spark, d).collect()
      .map(r => (new Path(r.getString(0)).getName,
        r.getLong(2), r.getLong(3))).toSet
    assert(census === Set(("fA.parquet", 4L, 46L), ("fB.parquet", 1L, 49L)))
    // ONE distributed scan serves every delete group — G groups over
    // the same table must not read the data G times
    val scans = IcebergMeta.equalityDeletePositions(spark, d)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("lang=")) => f
      }
    assert(scans.length === 1, scans.map(_.nodeName).mkString(", "))
  }

  test("v3 row-lineage audit: inheritance, overlap and headroom flags") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_rl")
      .toString + "/tbl"
    val counts = IcebergMeta.writeRowLineageFixtureTable(spark, d, docs)
    val (n0, n1, n2) = (counts("f0.parquet"), counts("f1.parquet"),
      counts("f2.parquet"))
    val rows = IcebergMeta.rowLineageAudit(spark, d).collect()
      .map(r => r.getString(0).replaceAll(".*/", "") ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4))))
      .toMap
    // explicit, then the two positionally-inherited assignments
    assert(rows("f0.parquet") === ((0L, n0, true, true)))
    assert(rows("f1.parquet") === ((n0, n1, true, true)))
    assert(rows("f2.parquet") === ((n0 + n1, n2, true, true)))
    // the planted anomaly flags BOTH overlap and headroom
    assert(rows("f3.parquet")._1 === n0 + n1 + n2 - 3)
    assert(!rows("f3.parquet")._3 && !rows("f3.parquet")._4)
    // a v2 table refuses by version
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_rl2")
      .toString + "/tbl"
    IcebergMeta.writeFixtureTable(spark, d2, docs)
    val e = intercept[UnsupportedOperationException] {
      IcebergMeta.rowLineageAudit(spark, d2)
    }
    assert(e.getMessage.contains("format-v3 feature"))
  }

  test("v3 row-id materialization: contiguous ids, overlap refusal") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_rl3")
      .toString + "/tbl"
    val counts = IcebergMeta.writeRowLineageFixtureTable(
      spark, d, docs, plantAnomaly = false)
    val n = counts.values.sum
    val got = IcebergMeta.readWithRowIds(spark, d)
    // ids are exactly 0..N-1, each exactly once, and each row's id is
    // its file base + its position (spot-checked per file)
    val ids = got.select("_row_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq === (0L until n).toSeq)
    // per-file bases: the fixture routes pmod(doc_id,4)==i to f<i>,
    // so each slice's ids must be exactly its file's assigned range
    import org.apache.spark.sql.functions.{col, count, lit, min, pmod}
    val perFile = got
      .groupBy(pmod(col("doc_id"), lit(4)).as("slice"))
      .agg(min("_row_id"), count(lit(1)))
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val (n0, n1, n2) = (counts("f0.parquet"), counts("f1.parquet"),
      counts("f2.parquet"))
    assert(perFile(0L) === ((0L, n0)))
    assert(perFile(1L) === ((n0, n1)))
    assert(perFile(2L) === ((n0 + n1, n2)))
    // overlapping lineage refuses the read outright
    val d2 = java.nio.file.Files.createTempDirectory("graft_ice_rl4")
      .toString + "/tbl"
    IcebergMeta.writeRowLineageFixtureTable(spark, d2, docs)
    val e = intercept[IllegalArgumentException] {
      IcebergMeta.readWithRowIds(spark, d2)
    }
    assert(e.getMessage.contains("would collide"))
  }

  test("streaming changelog store: bootstrap then exact range increments") {
    val d = java.nio.file.Files.createTempDirectory("graft_ice_clst")
      .toString + "/tbl"
    val counts = IcebergMeta.writeFixtureTable(spark, d, docs)
    val store = java.nio.file.Files.createTempDirectory("graft_ice_clsd")
      .toString + "/store"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ice_clsc")
      .toString
    // pass A: rewind to snapshot 1 — the bootstrap increment is its
    // net live state (no deletes yet) as inserts
    val v1 = new java.io.File(d, "metadata/v1.metadata.json")
    val full = new String(java.nio.file.Files.readAllBytes(v1.toPath),
      java.nio.charset.StandardCharsets.UTF_8)
    java.nio.file.Files.write(v1.toPath,
      full.replace("\"current-snapshot-id\":2,",
        "\"current-snapshot-id\":1,").getBytes("UTF-8"))
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    val boot = IcebergMeta.readChangelogStore(spark, store)
      .groupBy("snapshot_id", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(boot === Map((1L, "insert") ->
      (counts("f0.parquet") + counts("f1.parquet") + counts("f2.parquet"))))
    // pass B: snapshot 2 arrives; EXACTLY changelogScan(1,2) lands
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/v2.metadata.json").toPath,
      full.getBytes("UTF-8"))
    java.nio.file.Files.write(
      new java.io.File(d, "metadata/version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    val all = IcebergMeta.readChangelogStore(spark, store)
      .groupBy("snapshot_id", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(all((2L, "insert")) ===
      counts("f3.parquet") + counts("f4.parquet"))
    assert(all((2L, "delete")) === 2L + counts("f5.parquet"))
    // a third pass with nothing new is a no-op
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    assert(IcebergMeta.readChangelogStore(spark, store).count() ===
      all.values.sum)
  }
}
