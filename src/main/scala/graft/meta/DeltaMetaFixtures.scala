package graft.meta

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The deterministic fixture writers of [[DeltaMeta]] (tests + oracle
  * queries). Pure move out of DeltaMeta.scala (r15, file-size split);
  * the self-type keeps every call site `DeltaMeta.x` intact. */
private[meta] trait DeltaMetaFixtures extends Serializable { this: DeltaMeta.type =>

  /**
   * A table written with the `inCommitTimestamps` feature's shape:
   * three single-add commits whose WALL `timestamp` fields are
   * useless (all within 1 ms — the clock-skew case the feature
   * exists for) while `inCommitTimestamp` carries the true monotonic
   * commit times 10 s apart. TIMESTAMP AS OF must resolve by ICT; a
   * wall-timestamp reader would send every probe to the last version.
   * Returns per-file row counts.
   */
  def writeIctFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()
    val counts = (0 until 3).map { i =>
      val slice = docs.filter(pmod(col("doc_id"), lit(3)) === i)
        .select(col("doc_id"), col("lang"))
      s"f$i.parquet" -> FixtureIO.writeSingleParquet(
        slice, new java.io.File(root, s"f$i.parquet"))
    }.toMap
    val ts0 = 1700000000000L
    def addJson(f: String): String = {
      val size = new java.io.File(root, f).length()
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":$ts0,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"}}"""
    }
    (0 until 3).foreach { v =>
      val lines = Seq(
        // wall timestamps all within 1 ms; ICT carries the truth
        s"""{"commitInfo":{"timestamp":${ts0 + v},""" +
          s""""inCommitTimestamp":${ts0 + v * 10000L},""" +
          s""""operation":"WRITE"}}""") ++
        (if (v == 0) Seq(
          """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
            """"writerFeatures":["inCommitTimestamp"]}}""",
          s"""{"metaData":{"id":"graft-ict","format":{"provider":"parquet","options":{}},""" +
            s""""schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":$ts0}}""")
         else Seq.empty) ++
        Seq(addJson(s"f$v.parquet"))
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    counts
  }

  /**
   * The base fixture plus two commits of `domainMetadata` actions:
   * v5 creates `delta.clustering` and `graft.pipeline`; v6 updates
   * `graft.pipeline` (stage 2) and TOMBSTONES `delta.clustering`
   * (`removed: true`) — the report must surface the tombstone, not
   * drop it. Returns per-file row counts.
   */
  def writeDomainMetadataFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val logDir = new java.io.File(dir, "_delta_log")
    val ts5 = 1700000005000L
    // configurations carry embedded JSON — escape the quotes (jstr is
    // a bare wrapper for names that never contain them)
    def esc(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def dm(domain: String, config: String, removed: Boolean): String =
      s"""{"domainMetadata":{"domain":${jstr(domain)},""" +
        s""""configuration":${esc(config)},"removed":$removed}}"""
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${5L}%020d.json").toPath,
      Seq(
        s"""{"commitInfo":{"timestamp":$ts5,"operation":"CLUSTER BY"}}""",
        dm("delta.clustering", """{"clusteringColumns":["doc_id"]}""",
          removed = false),
        dm("graft.pipeline", """{"stage":1}""", removed = false))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${6L}%020d.json").toPath,
      Seq(
        s"""{"commitInfo":{"timestamp":${ts5 + 1000},"operation":"ALTER"}}""",
        dm("graft.pipeline", """{"stage":2}""", removed = false),
        dm("delta.clustering", "", removed = true))
        .mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  // ---------------------------------------------------------------------
  // Deterministic fixture writer (tests + oracle queries)
  // ---------------------------------------------------------------------

  /** JSON-escape nothing fancy: fixture paths/operations are plain. */
  private def jstr(s: String): String = "\"" + s + "\""

  /**
   * Hand-write a Delta table against the PUBLIC protocol (the AvroMeta
   * writeFixture pattern: our reader must then agree with DuckDB's
   * independent read of the same JSON/parquet): `nFiles` data parquet
   * slices of `rows`, committed across five versions with a checkpoint
   * at v2 and two vacuum-pending removed files —
   *
   *   v0: protocol + metaData + add f0, f1       (JSON)
   *   v1: add f2, f3                             (JSON)
   *   v2: remove f1, add f4                      (JSON)
   *   --- checkpoint.parquet at v2 + _last_checkpoint
   *   v3: remove f2, add f5                      (JSON)
   *   v4: add f6                                 (JSON)
   *
   * Live at v4: f0, f3, f4, f5, f6 (5 files); f1, f2 remain ON DISK
   * (vacuum-pending) — the case a raw directory census miscounts.
   * Every `add.stats` carries the real `numRecords` so the stats-vs-
   * footer audit is exact. Returns the per-file row counts.
   */
  def writeFixtureTable(spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()

    // seven disjoint slices of the docs table, written as f0..f6.parquet
    // from ONE collect (this builder runs once per v2ckpt/multickpt/crc/
    // restore/log-cleanup query invocation — seven sequential
    // single-slice writes were seven jobs of scheduling floor each);
    // rows ascend by doc_id within each slice, the order the per-slice
    // coalesce(1) writes produced (the generator's documents table is
    // doc_id-ordered).
    val n = 7
    val counts = FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("lang")),
      pmod(col("doc_id"), lit(n)), n,
      i => new java.io.File(root, s"f$i.parquet"))
      .map { case (i, c) => s"f$i.parquet" -> c }

    val ts0 = 1700000000000L
    def addJson(f: String, v: Long): String = {
      val size = new java.io.File(root, f).length()
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"}}"""
    }
    def removeJson(f: String, v: Long): String =
      s"""{"remove":{"path":${jstr(f)},"deletionTimestamp":${ts0 + v * 1000},"dataChange":true}}"""
    def commitInfo(v: Long, op: String): String =
      s"""{"commitInfo":{"timestamp":${ts0 + v * 1000},"operation":${jstr(op)}}}"""
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // real schemaStrings (Spark StructType json), with an EVOLUTION at
    // v4 — the shape a schema-drift audit has to read from the log
    val schemaV0 =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    val schemaV4 =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"quality\",\"type\":\"double\",\"nullable\":true,\"metadata\":{}}]}"""
    writeCommit(0, Seq(
      commitInfo(0, "WRITE"),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaV0","partitionColumns":[],"configuration":{},"createdTime":$ts0}}""",
      addJson("f0.parquet", 0), addJson("f1.parquet", 0)))
    writeCommit(1, Seq(commitInfo(1, "WRITE"),
      // a streaming writer's setTransaction marker (exactly-once resume)
      """{"txn":{"appId":"ingest-a","version":10,"lastUpdated":1700000001000}}""",
      addJson("f2.parquet", 1), addJson("f3.parquet", 1)))
    writeCommit(2, Seq(commitInfo(2, "MERGE"),
      removeJson("f1.parquet", 2), addJson("f4.parquet", 2)))
    val metaDataV4 =
      s"""{"metaData":{"id":"graft-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schemaV4","partitionColumns":[],"configuration":{},"createdTime":$ts0}}"""

    // checkpoint at v2: reconciled state — live adds f0,f2,f3,f4 + the
    // f1 remove tombstone + protocol + metaData + txn rows, one action
    // a row (a REAL checkpoint preserves protocol/metaData/txn so log
    // cleanup can delete the commits that carried them — the
    // checkpoint-replay paths read them from here)
    {
      import spark.implicits._
      // the checkpoint keeps the PRE-deletion-vector add shape (no
      // deletionVector field), exercising the reader's absent-column path
      val ckptAddType = StructType(addType.fields.filterNot(
        _.name == "deletionVector"))
      val ckptProtocolType = StructType(Seq(
        StructField("minReaderVersion", IntegerType),
        StructField("minWriterVersion", IntegerType)))
      // the RAW schemaString (the JSON-line variants carry it escaped)
      val schemaV0Raw = schemaV0.replace("\\\"", "\"")
      val adds = Seq("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet")
      val addRows = adds.map { f =>
        (f, Map.empty[String, String], new java.io.File(root, f).length(),
          ts0, true, s"""{"numRecords":${counts(f)}}""")
      }
      val addDf = addRows
        .toDF("path", "partitionValues", "size", "modificationTime",
          "dataChange", "stats")
        .select(struct(col("path"), col("partitionValues"), col("size"),
          col("modificationTime"), col("dataChange"), col("stats")).as("add"))
        .withColumn("remove", lit(null).cast(removeType))
        .withColumn("protocol", lit(null).cast(ckptProtocolType))
        .withColumn("metaData", lit(null).cast(metaDataType))
        .withColumn("txn", lit(null).cast(txnType))
      val removeDf = Seq(("f1.parquet", ts0 + 2000, true))
        .toDF("path", "deletionTimestamp", "dataChange")
        .select(lit(null).cast(ckptAddType).as("add"),
          struct(col("path"), col("deletionTimestamp"), col("dataChange")).as("remove"))
        .withColumn("protocol", lit(null).cast(ckptProtocolType))
        .withColumn("metaData", lit(null).cast(metaDataType))
        .withColumn("txn", lit(null).cast(txnType))
      val headerDf = spark.range(1)
        .select(lit(null).cast(ckptAddType).as("add"),
          lit(null).cast(removeType).as("remove"),
          struct(lit(1).as("minReaderVersion"), lit(2).as("minWriterVersion")).as("protocol"),
          struct(lit("graft-fixture").as("id"),
            lit(schemaV0Raw).as("schemaString"),
            lit(Array.empty[String]).as("partitionColumns"),
            lit(null).cast(MapType(StringType, StringType))
              .as("configuration")).as("metaData"),
          lit(null).cast(txnType).as("txn"))
      // ingest-a's reconciled high-water mark as of v2 (its v1 commit
      // is what log cleanup would delete first)
      val txnDf = spark.range(1)
        .select(lit(null).cast(ckptAddType).as("add"),
          lit(null).cast(removeType).as("remove"),
          lit(null).cast(ckptProtocolType).as("protocol"),
          lit(null).cast(metaDataType).as("metaData"),
          struct(lit("ingest-a").as("appId"), lit(10L).as("version"),
            lit(ts0 + 1000).as("lastUpdated")).as("txn"))
      FixtureIO.writeSingleParquet(
        addDf.unionByName(removeDf).unionByName(headerDf).unionByName(txnDf),
        new java.io.File(logDir, f"${2L}%020d.checkpoint.parquet"))
      java.nio.file.Files.write(new java.io.File(logDir, "_last_checkpoint").toPath,
        """{"version":2,"size":7}""".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    writeCommit(3, Seq(commitInfo(3, "DELETE"),
      """{"txn":{"appId":"ingest-a","version":11,"lastUpdated":1700000003000}}""",
      """{"txn":{"appId":"ingest-b","version":7,"lastUpdated":1700000003000}}""",
      removeJson("f2.parquet", 3), addJson("f5.parquet", 3)))
    writeCommit(4, Seq(commitInfo(4, "WRITE"), metaDataV4,
      addJson("f6.parquet", 4)))
    counts
  }

  /**
   * A CHANGE-DATA-FEED table: v0 adds `f0`/`f1` (cdc-less — file-
   * granularity inserts), v1 is an UPDATE carrying a real
   * `_change_data/c1.parquet` cdc file (three docs' pre/post images
   * with their own `_change_type`) PLUS the superseded add/remove
   * pair (f2 added, f0 removed — the cdc file is the authority for
   * that commit), v2 removes `f1` cdc-less (file-granularity
   * deletes). Returns per-data-file row counts.
   */
  def writeCdfFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()
    val cdDir = new java.io.File(root, "_change_data")
    cdDir.mkdirs()
    val base = docs.select(col("doc_id"), col("lang"))
    val counts = scala.collection.mutable.Map.empty[String, Long]
    // all three base files in ONE Spark job (the change file below keeps
    // its own write: its pre/post-image row pairing must not ride a sort
    // whose doc_id ties could reorder them)
    counts ++= FixtureIO.writeSlices(base, pmod(col("doc_id"), lit(3)), 3,
      i => new java.io.File(root, s"f$i.parquet"))
      .map { case (i, c) => s"f$i.parquet" -> c }
    // the UPDATE's change file: pre/post images of three docs
    val updated = base.filter(pmod(col("doc_id"), lit(3)) === 0)
      .orderBy("doc_id").limit(3)
    val c1 = updated.withColumn("_change_type", lit("update_preimage"))
      .unionByName(updated.withColumn("lang", lit("zz"))
        .withColumn("_change_type", lit("update_postimage")))
    counts("c1.parquet") = FixtureIO.writeSingleParquet(
      c1, new java.io.File(cdDir, "c1.parquet"))
    val ts0 = 1700000000000L
    def size(rel: String): Long = new java.io.File(root, rel).length()
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    def addJson(f: String, v: Long): String =
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":${size(f)},""" +
        s""""modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"}}"""
    writeCommit(0, Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":4}}""",
      s"""{"metaData":{"id":"graft-cdf","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":$ts0}}""",
      addJson("f0.parquet", 0), addJson("f1.parquet", 0)))
    writeCommit(1, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 1000},"operation":"UPDATE"}}""",
      s"""{"cdc":{"path":"_change_data/c1.parquet","partitionValues":{},""" +
        s""""size":${size("_change_data/c1.parquet")},"dataChange":false}}""",
      addJson("f2.parquet", 1),
      s"""{"remove":{"path":"f0.parquet","deletionTimestamp":${ts0 + 1000},"dataChange":true}}"""))
    writeCommit(2, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 2000},"operation":"DELETE"}}""",
      s"""{"remove":{"path":"f1.parquet","deletionTimestamp":${ts0 + 2000},"dataChange":true}}"""))
    counts.toMap
  }

  /**
   * A CDF-enabled table whose changes arrive as DELETION-VECTOR
   * commits — the row-level shapes [[DeltaMeta.changeFeed]] resolves
   * through [[DvCodec]] (r16):
   *
   *  - v0: adds `f0`/`f1` (pmod-2 doc slices), CDF on;
   *  - v1: DV delete — `remove f0` + `add f0` with an INLINE vector
   *    marking positions {1,3};
   *  - v2: widening DV delete — the pair again, old inline {1,3} →
   *    new U-STORAGE vector {1,3,5} (the feed must emit ONLY the
   *    newly-dead position 5);
   *  - v3: whole-file remove of `f1` CARRYING a DV ({0}) — the live
   *    remainder (every position but 0) dies.
   *
   * Returns per-data-file row counts.
   */
  def writeCdfDvFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()
    val base = docs.select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
    val counts = (0 until 2).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        base.filter(pmod(col("doc_id"), lit(2)) === i),
        new java.io.File(root, rel))
    }.toMap
    require(counts.values.forall(_ > 6),
      s"cdf-dv fixture needs >6 rows per slice, got $counts")
    val ts0 = 1700000000000L
    def size(rel: String): Long = new java.io.File(root, rel).length()
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def inlineDv(positions: Array[Long]): String = {
      val data = DvCodec.encodeBitmap(positions)
      val padded = data ++
        Array.fill[Byte]((4 - data.length % 4) % 4)(0)
      s"""{"storageType":"i","pathOrInlineDv":${jstr(
        DvCodec.z85Encode(padded))},""" +
        s""""sizeInBytes":${data.length},""" +
        s""""cardinality":${positions.length}}"""
    }
    def uDv(positions: Array[Long], lsb: Long): String = {
      val uuid = new java.util.UUID(0x1122334455667788L, lsb)
      val bytes = java.nio.ByteBuffer.allocate(16)
        .putLong(uuid.getMostSignificantBits)
        .putLong(uuid.getLeastSignificantBits).array()
      val (off, sz) = DvCodec.writeDvFile(
        new java.io.File(root, s"deletion_vector_$uuid.bin"), positions)
      s"""{"storageType":"u","pathOrInlineDv":${jstr(
        DvCodec.z85Encode(bytes))},""" +
        s""""offset":$off,"sizeInBytes":$sz,""" +
        s""""cardinality":${positions.length}}"""
    }
    val schema =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    def addJson(f: String, v: Long, dv: Option[String]): String =
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":${size(f)},""" +
        s""""modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        dv.map(d => s""""deletionVector":$d,""").getOrElse("") +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"}}"""
    def removeJson(f: String, v: Long, dv: Option[String]): String =
      s"""{"remove":{"path":${jstr(f)},"deletionTimestamp":${ts0 + v * 1000},""" +
        dv.map(d => s""""deletionVector":$d,""").getOrElse("") +
        s""""dataChange":true}}"""
    writeCommit(0, Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors","changeDataFeed"]}}""",
      s"""{"metaData":{"id":"graft-cdf-dv","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":[],""" +
        s""""configuration":{"delta.enableChangeDataFeed":"true"},"createdTime":$ts0}}""",
      addJson("f0.parquet", 0, None), addJson("f1.parquet", 0, None)))
    val d13 = inlineDv(Array(1L, 3L))
    writeCommit(1, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 1000},"operation":"DELETE"}}""",
      removeJson("f0.parquet", 1, None),
      addJson("f0.parquet", 1, Some(d13))))
    writeCommit(2, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 2000},"operation":"DELETE"}}""",
      removeJson("f0.parquet", 2, Some(d13)),
      addJson("f0.parquet", 2,
        Some(uDv(Array(1L, 3L, 5L), 0x99AABBCCDDEEFF00L)))))
    writeCommit(3, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 3000},"operation":"DELETE"}}""",
      removeJson("f1.parquet", 3, Some(inlineDv(Array(0L))))))
    counts
  }

  /**
   * A ROW-TRACKING table (writer feature `rowTracking`, protocol
   * minWriterVersion 7): three pmod-3 slices whose add actions carry
   * `baseRowId`/`defaultRowCommitVersion` — f0 owns [0, n0), f1 owns
   * [n0, n0+n1), and f2's base LIES at n0+n1-3, overlapping f1's range
   * by three row ids (the same-id-twice corruption
   * [[DeltaMeta.rowTrackingAudit]] must flag). Returns per-file row
   * counts.
   */
  def writeRowTrackingFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()
    val counts = (0 until 3).map { i =>
      val rel = s"f$i.parquet"
      rel -> FixtureIO.writeSingleParquet(
        docs.filter(pmod(col("doc_id"), lit(3)) === i)
          .select(col("doc_id"), col("lang")),
        new java.io.File(root, rel))
    }.toMap
    require(counts.values.forall(_ > 3),
      s"row-tracking fixture needs >3 rows per slice, got $counts")
    val ts0 = 1700000000000L
    def addJson(f: String, v: Long, base: Long): String = {
      val size = new java.io.File(root, f).length()
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""baseRowId":$base,"defaultRowCommitVersion":$v,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"}}"""
    }
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val schema =
      """{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}},""" +
        """{\"name\":\"lang\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}"""
    val (n0, n1) = (counts("f0.parquet"), counts("f1.parquet"))
    writeCommit(0, Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":7,""" +
        """"writerFeatures":["rowTracking","domainMetadata"]}}""",
      s"""{"metaData":{"id":"graft-rowtracking","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":[],"configuration":{},"createdTime":$ts0}}""",
      addJson("f0.parquet", 0, 0L),
      addJson("f1.parquet", 0, n0)))
    writeCommit(1, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 1000},"operation":"WRITE"}}""",
      // the planted LIE: f2's base overlaps f1's range by 3 ids
      addJson("f2.parquet", 1, n0 + n1 - 3)))
    counts
  }

  /**
   * The base fixture plus per-version `.crc` version-checksum files,
   * computed CLOSED-FORM from the fixture's own commit plan (v0: +f0
   * +f1; v1: +f2 +f3; v2: −f1 +f4; v3: −f2 +f5; v4: +f6) — independent
   * of any replay code. Version 1 LIES (`numFiles: 99`) so the audit's
   * mismatch flag is exercised on a real disagreement. Returns per-file
   * row counts.
   */
  def writeCrcFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val root = new java.io.File(dir)
    val logDir = new java.io.File(root, "_delta_log")
    def size(f: String): Long = new java.io.File(root, f).length()
    val liveAt: Seq[(Long, Seq[String])] = Seq(
      0L -> Seq("f0", "f1"),
      1L -> Seq("f0", "f1", "f2", "f3"),
      2L -> Seq("f0", "f2", "f3", "f4"),
      3L -> Seq("f0", "f3", "f4", "f5"),
      4L -> Seq("f0", "f3", "f4", "f5", "f6"))
    liveAt.foreach { case (v, files) =>
      val nf = if (v == 1L) 99 else files.size
      val tsb = files.map(f => size(s"$f.parquet")).sum
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.crc").toPath,
        (s"""{"tableSizeBytes":$tsb,"numFiles":$nf,""" +
          s""""numMetadata":1,"numProtocol":1}""")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
    counts
  }

  /**
   * A Delta table whose adds carry per-column `minValues`/`maxValues`
   * stats (the protocol's data-skipping shape): five doc_id-RANGE
   * slices written as `f0..f4`, each add declaring its slice's actual
   * doc_id bounds — except f4, whose stats carry `numRecords` ONLY
   * (the no-bounds file a sound pruner must always keep). One commit.
   * Returns per-file row counts.
   */
  def writeStatsPruneFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val step = maxId / 5 + 1
    // one write job for all five range slices + one aggregate for the
    // per-slice bounds (was one write + one agg job PER slice)
    val sliceId = expr(s"doc_id div ${step}L").cast("int")
    FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("lang")), sliceId, 5,
      i => new java.io.File(root, s"f$i.parquet"))
    val boundRows = docs.groupBy(sliceId.as("i"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("mn"),
        max(col("doc_id")).as("mx"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val slices = (0 until 5).map { i =>
      val (n, mn, mx) = boundRows(i)
      (s"f$i.parquet", n, mn, mx)
    }
    val ts0 = 1700000000000L
    def addJson(f: String, n: Long, bounds: Option[(Long, Long)]): String = {
      val size = new java.io.File(root, f).length()
      val stats = bounds match {
        case Some((mn, mx)) =>
          s"""{\\"numRecords\\":$n,\\"minValues\\":{\\"doc_id\\":$mn},""" +
            s"""\\"maxValues\\":{\\"doc_id\\":$mx}}"""
        case None => s"""{\\"numRecords\\":$n}"""
      }
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":$ts0,"dataChange":true,"stats":"$stats"}}"""
    }
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"graft-statsprune","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":$ts0}}""") ++
      slices.map { case (f, n, mn, mx) =>
        addJson(f, n, if (f == "f4.parquet") None else Some((mn, mx)))
      }
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${0L}%020d.json").toPath,
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    slices.map(s => s._1 -> s._2).toMap
  }

  /**
   * A PARTITIONED Delta table against the public protocol: `docs` split
   * by `lang` into `lang=<x>/` directories, two files per partition
   * (doc_id parity), committed across three versions. Every add carries
   * `partitionValues={"lang": x}` and a stats `numRecords`, so
   * partition-pruned planning — "which files serve `lang = x`" — answers
   * from the log alone, before any data I/O. Returns rows per
   * (lang, parity) file.
   */
  def writePartitionedFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()

    val langs = docs.select("lang").distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    // one write job for all (lang, parity) slices — was one per slice;
    // slice id = langIndex * 2 + parity (array_position is 1-based)
    val sliceId = ((array_position(
        lit(langs.toArray), col("lang")) - 1L) * 2L +
      pmod(col("doc_id"), lit(2))).cast("int")
    def relOf(i: Int) = s"lang=${langs(i / 2)}/f${i % 2}.parquet"
    val counts = FixtureIO.writeSlices(
      docs.select(col("doc_id"), col("n_chars"), col("lang")), sliceId,
      langs.size * 2,
      { i =>
        val dst = new java.io.File(root, relOf(i))
        dst.getParentFile.mkdirs()
        dst
      }, dropCols = Seq("lang"))
      .map { case (i, c) => relOf(i) -> c }

    val ts0 = 1700000000000L
    def addJson(rel: String, lang: String, v: Long): String = {
      val size = new java.io.File(root, rel).length()
      s"""{"add":{"path":${jstr(rel)},"partitionValues":{"lang":${jstr(lang)}},""" +
        s""""size":$size,"modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(rel)}}"}}"""
    }
    def commitInfoLine(v: Long): String =
      s"""{"commitInfo":{"timestamp":${ts0 + v * 1000},"operation":"WRITE"}}"""
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // v0: protocol + metaData (partitionColumns names lang) + first langs
    val (head, tail2) = langs.splitAt(2)
    writeCommit(0, Seq(
      commitInfoLine(0),
      """{"protocol":{"minReaderVersion":1,"minWriterVersion":2}}""",
      s"""{"metaData":{"id":"graft-part-fixture","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"{}","partitionColumns":["lang"],"configuration":{},"createdTime":$ts0}}""") ++
      head.flatMap(l => (0 to 1).map(p => addJson(s"lang=$l/f$p.parquet", l, 0))))
    writeCommit(1, commitInfoLine(1) +:
      tail2.dropRight(1).flatMap(l => (0 to 1).map(p => addJson(s"lang=$l/f$p.parquet", l, 1))))
    writeCommit(2, commitInfoLine(2) +:
      tail2.takeRight(1).flatMap(l => (0 to 1).map(p => addJson(s"lang=$l/f$p.parquet", l, 2))))
    counts.toMap
  }

  /**
   * The base fixture RE-CHECKPOINTED in the V2 (sidecar) layout — the
   * protocol's `v2Checkpoint` feature: the classic v2 checkpoint part
   * is replaced by a MANIFEST (`<v>.checkpoint.graftv2.parquet`)
   * holding `checkpointMetadata`, one `sidecar` pointer row per part,
   * and the non-file actions (protocol/metaData/txn — the spec keeps
   * them in the manifest), while the add/remove FILE actions move to
   * `_delta_log/_sidecars/{sc1,sc2}.parquet` (adds and removes split
   * across parts). Commits 0..2 are then DELETED (log cleanup, which
   * v2Checkpoint tables rely on): the replay has no JSON fallback —
   * it MUST follow the pointers through the sidecars.
   */
  def writeV2CheckpointFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val logDir = new java.io.File(dir, "_delta_log")
    val classic = new java.io.File(logDir, f"${2L}%020d.checkpoint.parquet")
    val ckpt = spark.read.parquet(classic.getPath)
    val scDir = new java.io.File(logDir, "_sidecars")
    scDir.mkdirs()
    // file actions out to the sidecars: adds in sc1, removes in sc2
    FixtureIO.writeSingleParquet(
      ckpt.filter(col("add").isNotNull).select("add", "remove"),
      new java.io.File(scDir, "sc1.parquet"))
    FixtureIO.writeSingleParquet(
      ckpt.filter(col("add").isNull && col("remove").isNotNull)
        .select("add", "remove"),
      new java.io.File(scDir, "sc2.parquet"))
    // the manifest: non-file actions + checkpointMetadata + pointers,
    // and NO add/remove columns at all
    val protoT = ckpt.schema("protocol").dataType
    val metaT = ckpt.schema("metaData").dataType
    val txnT = ckpt.schema("txn").dataType
    val cmT = StructType(Seq(StructField("version", LongType)))
    val scT = StructType(Seq(
      StructField("path", StringType),
      StructField("sizeInBytes", LongType),
      StructField("modificationTime", LongType)))
    val nonFile = ckpt.filter(col("add").isNull && col("remove").isNull)
      .select(col("protocol"), col("metaData"), col("txn"),
        lit(null).cast(cmT).as("checkpointMetadata"),
        lit(null).cast(scT).as("sidecar"))
    val cmRow = spark.range(1).select(
      lit(null).cast(protoT).as("protocol"),
      lit(null).cast(metaT).as("metaData"),
      lit(null).cast(txnT).as("txn"),
      struct(lit(2L).as("version")).as("checkpointMetadata"),
      lit(null).cast(scT).as("sidecar"))
    val scRows = {
      import spark.implicits._
      Seq("sc1.parquet", "sc2.parquet").map { n =>
        val f = new java.io.File(scDir, n)
        (n, f.length(), f.lastModified())
      }.toDF("p", "s", "m").select(
        lit(null).cast(protoT).as("protocol"),
        lit(null).cast(metaT).as("metaData"),
        lit(null).cast(txnT).as("txn"),
        lit(null).cast(cmT).as("checkpointMetadata"),
        struct(col("p").as("path"), col("s").as("sizeInBytes"),
          col("m").as("modificationTime")).as("sidecar"))
    }
    FixtureIO.writeSingleParquet(nonFile.unionByName(cmRow).unionByName(scRows),
      new java.io.File(logDir, f"${2L}%020d.checkpoint.graftv2.parquet"))
    classic.delete()
    // log cleanup: the commits the checkpoint covers are gone
    logDir.listFiles().filter(f => f.getName.endsWith(".json") &&
      segmentVersion(f.getName).exists(_._1 <= 2L)).foreach(_.delete())
    counts
  }

  /**
   * The base fixture re-checkpointed through the protocol's V2
   * JSON-MANIFEST form: the same `_delta_log/_sidecars` parquet parts
   * as [[writeV2CheckpointFixtureTable]], but the manifest is
   * `2.checkpoint.<uuid>.json` — ndjson of the non-file actions +
   * `checkpointMetadata` + one `sidecar` pointer line per part — and
   * NO parquet checkpoint survives. Commits ≤ 2 are log-cleaned, so
   * the live set MUST reconstruct through the JSON manifest (a reader
   * blind to the form would silently replay from nothing). Returns the
   * per-file row counts.
   */
  def writeV2JsonCheckpointFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val logDir = new java.io.File(dir, "_delta_log")
    val classic = new java.io.File(logDir, f"${2L}%020d.checkpoint.parquet")
    val ckpt = spark.read.parquet(classic.getPath)
    val scDir = new java.io.File(logDir, "_sidecars")
    scDir.mkdirs()
    // file actions out to the sidecars: adds in sc1, removes in sc2
    FixtureIO.writeSingleParquet(
      ckpt.filter(col("add").isNotNull).select("add", "remove"),
      new java.io.File(scDir, "sc1.parquet"))
    FixtureIO.writeSingleParquet(
      ckpt.filter(col("add").isNull && col("remove").isNotNull)
        .select("add", "remove"),
      new java.io.File(scDir, "sc2.parquet"))
    // the manifest: ndjson — non-file actions from the classic
    // checkpoint (toJSON drops null fields, giving the protocol's
    // one-action-per-line shape), then checkpointMetadata + pointers
    val nonFileLines = ckpt
      .filter(col("add").isNull && col("remove").isNull)
      .select(col("protocol"), col("metaData"), col("txn"))
      .toJSON.collect().toSeq
    val scLines = Seq("sc1.parquet", "sc2.parquet").map { n =>
      val f = new java.io.File(scDir, n)
      s"""{"sidecar":{"path":${jstr(n)},"sizeInBytes":${f.length()},""" +
        s""""modificationTime":${f.lastModified()}}}"""
    }
    val lines = nonFileLines ++
      Seq("""{"checkpointMetadata":{"version":2}}""") ++ scLines
    java.nio.file.Files.write(
      new java.io.File(logDir,
        f"${2L}%020d.checkpoint.graftv2json.json").toPath,
      lines.mkString("", "\n", "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    classic.delete()
    // log cleanup: the commits the checkpoint covers are gone (the
    // JSON MANIFEST also ends in .json — segmentVersion classifies it
    // "checkpoint", so the commit-only filter leaves it alone)
    logDir.listFiles().filter(f =>
      segmentVersion(f.getName).exists { case (v, k) =>
        k == "commit" && v <= 2L }).foreach(_.delete())
    counts
  }

  /**
   * The base fixture re-checkpointed in the protocol's MULTIPART form:
   * the classic `2.checkpoint.parquet` is split into two parts
   * (`2.checkpoint.0000000001.0000000002.parquet` +
   * `...0000000002.0000000002.parquet` — adds in part 1, everything
   * else in part 2), the classic file deleted, and commits ≤ 2
   * log-cleaned — so the live set MUST replay through the full part
   * set. Returns the per-file row counts.
   */
  def writeMultipartCheckpointFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val logDir = new java.io.File(dir, "_delta_log")
    val classic = new java.io.File(logDir, f"${2L}%020d.checkpoint.parquet")
    val ckpt = spark.read.parquet(classic.getPath)
    FixtureIO.writeSingleParquet(ckpt.filter(col("add").isNotNull),
      new java.io.File(logDir,
        f"${2L}%020d.checkpoint.${1L}%010d.${2L}%010d.parquet"))
    FixtureIO.writeSingleParquet(ckpt.filter(col("add").isNull),
      new java.io.File(logDir,
        f"${2L}%020d.checkpoint.${2L}%010d.${2L}%010d.parquet"))
    classic.delete()
    // log cleanup: the commits the checkpoint covers are gone
    logDir.listFiles().filter(f => f.getName.endsWith(".json") &&
      segmentVersion(f.getName).exists(_._1 <= 2L)).foreach(_.delete())
    counts
  }

  /**
   * A COLUMN-MAPPED partitioned table against the public protocol —
   * `delta.columnMapping.mode = name`: data files carry PHYSICAL
   * column names (`c1` for logical `doc_id`), the logical names live
   * only in the metaData schemaString (each field's
   * `metadata."delta.columnMapping.physicalName"`), partition values
   * are keyed by the PHYSICAL partition column name (`c2` for
   * `lang`), and a v2 evolution declares `quality` → `c3` that no
   * file carries. The shape where a mapping-blind audit reports every
   * logical column missing and a mapping-blind prune matches nothing.
   * Two langs × two parity files; returns rows per `p<i>.parquet`.
   */
  def writeColumnMappedFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()

    val counts = scala.collection.mutable.Map.empty[String, Long]
    val partOf = scala.collection.mutable.Map.empty[String, String]
    for (q <- 0 until 4) {
      // quarter q of the docs; p0/p1 are the en partition, p2/p3 zh —
      // and the FILE schema is the physical one: a single column c1
      val slice = docs.filter(pmod(col("doc_id"), lit(4)) === q)
        .select(col("doc_id").as("c1"))
      val rel = s"p$q.parquet"
      counts(rel) = FixtureIO.writeSingleParquet(slice, new java.io.File(root, rel))
      partOf(rel) = if (q < 2) "en" else "zh"
    }

    val ts0 = 1700000000000L
    def field(logical: String, phys: String, tpe: String): String =
      s"""{\\"name\\":\\"$logical\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,""" +
        s"""\\"metadata\\":{\\"delta.columnMapping.id\\":${phys.drop(1)},""" +
        s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}}"""
    val schemaV0 = """{\"type\":\"struct\",\"fields\":[""" +
      field("doc_id", "c1", "long") + "," + field("lang", "c2", "string") + "]}"
    val schemaV2 = """{\"type\":\"struct\",\"fields\":[""" +
      field("doc_id", "c1", "long") + "," + field("lang", "c2", "string") +
      "," + field("quality", "c3", "double") + "]}"
    def metaJson(schema: String): String =
      s"""{"metaData":{"id":"graft-colmap","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"name",""" +
        s""""delta.columnMapping.maxColumnId":"3"},"createdTime":$ts0}}"""
    def addJson(rel: String, v: Long): String = {
      val size = new java.io.File(root, rel).length()
      // partitionValues keys are the PHYSICAL partition column name
      s"""{"add":{"path":${jstr(rel)},"partitionValues":{"c2":${jstr(partOf(rel))}},""" +
        s""""size":$size,"modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(rel)}}"}}"""
    }
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeCommit(0, Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      // columnMapping requires reader 2 / writer 5 (pre-table-features)
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaJson(schemaV0),
      addJson("p0.parquet", 0), addJson("p1.parquet", 0)))
    writeCommit(1, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 1000},"operation":"WRITE"}}""",
      addJson("p2.parquet", 1), addJson("p3.parquet", 1)))
    writeCommit(2, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 2000},"operation":"ADD COLUMNS"}}""",
      metaJson(schemaV2)))
    counts.toMap
  }

  /**
   * The column-mapping fixture in `id` MODE: same partitioned shape as
   * [[writeColumnMappedFixtureTable]] (p0/p1 en, p2/p3 zh; physical
   * names c1/c2/c3), but `delta.columnMapping.mode = id` and every
   * data file's parquet footer stamps `c1` with FIELD ID 1 (written
   * through Spark's own `parquet.field.id` schema-metadata channel, so
   * the Thrift `SchemaElement.field_id` is real) — footers match by
   * that id, not by any name. The v2 evolution declares `quality`
   * (id 3, physical c3) that no file carries. Returns rows per
   * `p<i>.parquet`.
   */
  def writeColumnMappedIdFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()

    val counts = scala.collection.mutable.Map.empty[String, Long]
    val partOf = scala.collection.mutable.Map.empty[String, String]
    val c1Meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("parquet.field.id", 1L).build()
    for (q <- 0 until 4) {
      // the FILE schema is the physical one: a single column c1 whose
      // footer SchemaElement carries field_id=1
      val slice = docs.filter(pmod(col("doc_id"), lit(4)) === q)
        .select(col("doc_id").as("c1", c1Meta))
      val rel = s"p$q.parquet"
      counts(rel) = FixtureIO.writeSingleParquet(
        slice, new java.io.File(root, rel))
      partOf(rel) = if (q < 2) "en" else "zh"
    }

    val ts0 = 1700000000000L
    def field(logical: String, phys: String, tpe: String): String =
      s"""{\\"name\\":\\"$logical\\",\\"type\\":\\"$tpe\\",\\"nullable\\":true,""" +
        s"""\\"metadata\\":{\\"delta.columnMapping.id\\":${phys.drop(1)},""" +
        s"""\\"delta.columnMapping.physicalName\\":\\"$phys\\"}}"""
    val schemaV0 = """{\"type\":\"struct\",\"fields\":[""" +
      field("doc_id", "c1", "long") + "," + field("lang", "c2", "string") + "]}"
    val schemaV2 = """{\"type\":\"struct\",\"fields\":[""" +
      field("doc_id", "c1", "long") + "," + field("lang", "c2", "string") +
      "," + field("quality", "c3", "double") + "]}"
    def metaJson(schema: String): String =
      s"""{"metaData":{"id":"graft-colmap-id","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"$schema","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"id",""" +
        s""""delta.columnMapping.maxColumnId":"3"},"createdTime":$ts0}}"""
    def addJson(rel: String, v: Long): String = {
      val size = new java.io.File(root, rel).length()
      // partitionValues keys are the PHYSICAL partition column name
      s"""{"add":{"path":${jstr(rel)},"partitionValues":{"c2":${jstr(partOf(rel))}},""" +
        s""""size":$size,"modificationTime":${ts0 + v * 1000},"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(rel)}}"}}"""
    }
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    writeCommit(0, Seq(
      s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
      // columnMapping requires reader 2 / writer 5 (pre-table-features)
      """{"protocol":{"minReaderVersion":2,"minWriterVersion":5}}""",
      metaJson(schemaV0),
      addJson("p0.parquet", 0), addJson("p1.parquet", 0)))
    writeCommit(1, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 1000},"operation":"WRITE"}}""",
      addJson("p2.parquet", 1), addJson("p3.parquet", 1)))
    writeCommit(2, Seq(
      s"""{"commitInfo":{"timestamp":${ts0 + 2000},"operation":"ADD COLUMNS"}}""",
      metaJson(schemaV2)))
    counts.toMap
  }

  /**
   * A Delta table with REAL roaring64 deletion vectors, both storage
   * kinds: two data files sorted by `doc_id` (so row POSITIONS are
   * closed-form: position k holds the k-th smallest doc_id of the
   * slice), then a DELETE-without-rewrite commit attaching
   *
   *  - to `f0`: an INLINE DV (`storageType=i`, Z85 payload) deleting
   *    positions 1, 3, 5;
   *  - to `f1`: an on-disk `u`-storage DV (`deletion_vector_<uuid>.bin`
   *    with the version byte + BE length + bitmap + BE CRC framing)
   *    deleting positions 0 and 2.
   *
   * Every byte of both payloads is produced by [[DvCodec.encodeBitmap]]
   * against the PUBLIC format (magic 1681511377 + portable roaring),
   * which the decode side re-reads independently of this writer's
   * in-memory state. Returns rows per file.
   */
  def writeDvBitmapFixtureTable(
      spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val root = new java.io.File(dir)
    FixtureIO.freshDir(root)
    root.mkdirs()
    val logDir = new java.io.File(root, "_delta_log")
    logDir.mkdirs()

    val counts = (0 to 1).map { parity =>
      val rel = s"f$parity.parquet"
      val slice = docs.filter(pmod(col("doc_id"), lit(2)) === parity)
        .select(col("doc_id"), col("lang")).orderBy(col("doc_id"))
      rel -> FixtureIO.writeSingleParquet(slice, new java.io.File(root, rel))
    }.toMap

    val ts0 = 1700000000000L
    def addJson(f: String, dv: String): String = {
      val size = new java.io.File(root, f).length()
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":$ts0,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}"""" +
        (if (dv.isEmpty) "}}" else s""","deletionVector":$dv}}""")
    }
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${0L}%020d.json").toPath,
      (Seq(
        s"""{"commitInfo":{"timestamp":$ts0,"operation":"WRITE"}}""",
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
          """"readerFeatures":["deletionVectors"],""" +
          """"writerFeatures":["deletionVectors"]}}""",
        s"""{"metaData":{"id":"graft-dvbitmap","format":{"provider":"parquet","options":{}},""" +
          s""""schemaString":"{}","partitionColumns":[],"configuration":{},"createdTime":$ts0}}""") ++
        Seq(addJson("f0.parquet", ""), addJson("f1.parquet", "")))
        .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // v1: DELETE-without-rewrite — inline DV on f0, u-storage on f1
    val ts1 = ts0 + 1000
    val inlineData = DvCodec.encodeBitmap(Array(1L, 3L, 5L))
    val padded = inlineData ++
      Array.fill[Byte]((4 - inlineData.length % 4) % 4)(0)
    val inlineDv =
      s"""{"storageType":"i","pathOrInlineDv":${jstr(DvCodec.z85Encode(padded))},""" +
        s""""sizeInBytes":${inlineData.length},"cardinality":3}"""
    val uuid = new java.util.UUID(0x0123456789ABCDEFL, 0xFEDCBA9876543210L)
    val uuidBytes = java.nio.ByteBuffer.allocate(16)
      .putLong(uuid.getMostSignificantBits)
      .putLong(uuid.getLeastSignificantBits).array()
    val (dvOff, dvSize) = DvCodec.writeDvFile(
      new java.io.File(root, s"deletion_vector_$uuid.bin"), Array(0L, 2L))
    val uDv =
      s"""{"storageType":"u","pathOrInlineDv":${jstr(DvCodec.z85Encode(uuidBytes))},""" +
        s""""offset":$dvOff,"sizeInBytes":$dvSize,"cardinality":2}"""
    def removeJson(f: String): String =
      s"""{"remove":{"path":${jstr(f)},"deletionTimestamp":$ts1,"dataChange":true}}"""
    def addDvJson(f: String, dv: String): String = {
      val size = new java.io.File(root, f).length()
      s"""{"add":{"path":${jstr(f)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":$ts1,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f)}}","deletionVector":$dv}}"""
    }
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${1L}%020d.json").toPath,
      Seq(
        s"""{"commitInfo":{"timestamp":$ts1,"operation":"DELETE"}}""",
        removeJson("f0.parquet"), addDvJson("f0.parquet", inlineDv),
        removeJson("f1.parquet"), addDvJson("f1.parquet", uDv))
        .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }

  /**
   * The base fixture plus a v5 DELETE-without-rewrite: the protocol's
   * deletion-vector commit shape — `remove f0` + `add f0` with the SAME
   * physical file and a `deletionVector` descriptor (3 logically-deleted
   * rows, inline storage). `stats.numRecords` still counts the physical
   * rows; the net live count of f0 drops by 3 without any file rewrite —
   * the case a DV-blind audit silently overcounts.
   */
  def writeDvFixtureTable(spark: SparkSession, dir: String, docs: DataFrame): Map[String, Long] = {
    val counts = writeFixtureTable(spark, dir, docs)
    val root = new java.io.File(dir)
    val logDir = new java.io.File(root, "_delta_log")
    val ts5 = 1700000005000L
    val f0 = "f0.parquet"
    val size = new java.io.File(root, f0).length()
    val lines = Seq(
      s"""{"commitInfo":{"timestamp":$ts5,"operation":"DELETE"}}""",
      // DVs require the table-features protocol (the spec's v3/v7 with
      // the deletionVectors feature named on both sides)
      """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors"],""" +
        """"writerFeatures":["deletionVectors"]}}""",
      s"""{"remove":{"path":${jstr(f0)},"deletionTimestamp":$ts5,"dataChange":true}}""",
      s"""{"add":{"path":${jstr(f0)},"partitionValues":{},"size":$size,""" +
        s""""modificationTime":$ts5,"dataChange":true,""" +
        s""""stats":"{\\"numRecords\\":${counts(f0)}}",""" +
        """"deletionVector":{"storageType":"i","pathOrInlineDv":"graftDvFixture",""" +
        """"offset":1,"sizeInBytes":40,"cardinality":3}}}""")
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${5L}%020d.json").toPath,
      lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    counts
  }
}
