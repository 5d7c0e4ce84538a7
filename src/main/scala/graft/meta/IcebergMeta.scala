package graft.meta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One snapshot entry of an Iceberg table-metadata file. */
case class IcebergSnapshotInfo(
    snapshotId: Long,
    timestampMs: Long,
    manifestList: String,
    operation: Option[String],
    isCurrent: Boolean,
    // the spec's ancestry pointer — the lineage authority for
    // incremental ranges (wall-clock is only the no-pointer fallback)
    parentSnapshotId: Option[Long] = None)

/** Decoded Iceberg table-metadata JSON. */
case class IcebergTableInfo(
    formatVersion: Int,
    tableUuid: String,
    location: String,
    currentSnapshotId: Option[Long],
    snapshots: Seq[IcebergSnapshotInfo])

/** One manifest-list entry: a pointer to one manifest file.
  * `content`: 0 data manifest, 1 delete manifest (format v2; absent in
  * v1 lists → 0). */
/** One manifest-list `partitions` field summary (spec r508-r511):
  * the range of ONE partition field across every file of the
  * manifest — the prune engines apply before opening the manifest. */
case class IcebergFieldSummary(
    containsNull: Boolean,
    containsNan: Option[Boolean],
    lowerBound: Option[Array[Byte]],
    upperBound: Option[Array[Byte]])

case class IcebergManifestInfo(
    manifestPath: String,
    manifestLength: Long,
    content: Int,
    addedFiles: Option[Long],
    existingFiles: Option[Long],
    deletedFiles: Option[Long],
    addedRows: Option[Long] = None,
    addedSnapshotId: Option[Long] = None,
    // the manifest's data sequence number (v2+): entries with a null
    // sequence_number and status ADDED inherit it
    sequenceNumber: Option[Long] = None,
    // which partition spec the manifest's entries were written under
    partitionSpecId: Option[Int] = None,
    // the list's per-partition-field summaries (spec field 507), in
    // the spec's field order; None when the writer recorded none
    partitionSummaries: Option[Seq[IcebergFieldSummary]] = None,
    // v3 row lineage (spec field 520): the first row id assigned to
    // this manifest's ADDED data files — entries with a null
    // first_row_id inherit from it positionally
    firstRowId: Option[Long] = None)

/** One manifest entry: one data or delete file with its census numbers.
  * `status`: 0 existing, 1 added, 2 deleted (the spec's enum).
  * `content`: 0 data, 1 position deletes, 2 equality deletes (format
  * v2; absent in v1 files → 0). A merge-on-read census that ignored
  * `content` would count delete-file rows as data rows. */
case class IcebergFileEntry(
    status: Int,
    content: Int,
    filePath: String,
    fileFormat: String,
    recordCount: Long,
    fileSizeBytes: Long,
    partition: Map[String, String],
    // format-v3 deletion-vector fields: the Puffin file named by
    // filePath holds this entry's DV blob for referencedDataFile at
    // (contentOffset, contentSizeInBytes); recordCount is the DV's
    // cardinality
    referencedDataFile: Option[String] = None,
    contentOffset: Option[Long] = None,
    contentSizeInBytes: Option[Long] = None,
    // format-v2 equality deletes (content=2): the schema field ids the
    // delete file's rows match data rows BY VALUE on (spec r136
    // equality_ids); None on data/position entries
    equalityIds: Option[Seq[Int]] = None,
    // the entry's own data sequence number (v2+, spec r134
    // sequence_number); null in the file means INHERIT the manifest's
    // when the entry is ADDED — resolved by the caller that knows the
    // manifest-list entry
    sequenceNumber: Option[Long] = None,
    // the entry's own committing snapshot (spec r101 snapshot_id);
    // null means INHERIT the manifest-list entry's added_snapshot_id —
    // a compacted manifest keeps each entry's ORIGINAL committer here
    snapshotId: Option[Long] = None,
    // per-field value bounds (spec r126/r128 lower_bounds/upper_bounds,
    // map<field id, single-value-serialized binary>) — the metrics
    // iceberg scan planning prunes files BY, without opening a footer
    lowerBounds: Map[Int, Array[Byte]] = Map.empty,
    upperBounds: Map[Int, Array[Byte]] = Map.empty,
    // per-field counts (spec r109/r110 value_counts/null_value_counts)
    // — total values INCLUDING nulls, and nulls; the numbers NOT NULL
    // pruning and planner cardinalities trust without a footer read
    valueCounts: Map[Int, Long] = Map.empty,
    nullValueCounts: Map[Int, Long] = Map.empty,
    // v3 row lineage (spec field 142 first_row_id): the first row id
    // of this data file's range; null on an ADDED entry means INHERIT
    // positionally from the manifest's firstRowId
    firstRowId: Option[Long] = None)

/**
 * Iceberg metadata tier — the second table format above the raw-file
 * layer, decoded against the PUBLIC Iceberg table spec: a `metadata/`
 * directory of versioned `*.metadata.json` table-metadata files (plus a
 * `version-hint.text` pointer for filesystem tables), per-snapshot
 * manifest LISTS (Avro), and manifests (Avro) whose entries each
 * describe one data file with its record/byte counts. Census questions
 * ("how many live files/rows in the current snapshot") answer from the
 * manifest chain WITHOUT touching a data file — and compose with the
 * parquet tier to cross-check manifest record counts against the files'
 * own footers.
 *
 * Decode reuse mirrors the ORC tier's: the Avro containers are read
 * through the avro library Spark already ships (`DataFileReader`,
 * field access BY NAME so real manifests' extra fields pass through),
 * the JSON through Jackson. [[currentFiles]] distributes the manifest
 * walk — one task per manifest — so a snapshot with thousands of
 * manifests scales like any other scan; only the (small) metadata JSON
 * and manifest list are read at the driver.
 */
/** The CLASSIFIED no-rows-changed refusal of [[IcebergMeta.changelogScan]]
  * — a dedicated type (r17 ADVICE) so callers that legitimately skip
  * empty/replace-only ranges (the changelog store walk) match on the
  * TYPE, never on message text a future refactor could collide with. */
class EmptyChangelogException(msg: String)
  extends IllegalArgumentException(msg)

object IcebergMeta extends IcebergMetaAudits with IcebergMetaFixtures
    with IcebergMetaTransformPrune with IcebergMetaTransformFixtures {

  /** True if `root` looks like a filesystem Iceberg table (a
    * version-hint pointer or any `*.metadata.json` under `metadata/`). */
  def isIcebergTable(fs: FileSystem, root: Path): Boolean =
    try {
      val meta = new Path(root, "metadata")
      fs.getFileStatus(meta).isDirectory &&
        (fs.exists(new Path(meta, "version-hint.text")) ||
          fs.listStatus(meta).exists(_.getPath.getName.endsWith(".metadata.json")))
    } catch { case _: java.io.IOException => false }

  /** List the table's `*.metadata.json` files under `metadata/` as
    * [[FileSlice]]s — the iceberg counterpart of the delta log listing
    * (the snapshot level lists table METADATA, not data files). */
  def listMetadataSlices(root: Path, conf: Configuration): Seq[FileSlice] = {
    val fs = root.getFileSystem(conf)
    if (!isIcebergTable(fs, root)) {
      throw new IllegalArgumentException(
        s"$root is not an Iceberg table: no metadata/*.metadata.json")
    }
    fs.listStatus(new Path(root, "metadata")).toSeq
      .filter(_.getPath.getName.endsWith(".metadata.json"))
      .sortBy(st => (metadataVersion(st.getPath.getName), st.getPath.getName))
      .map(st => FileSlice(st.getPath.toString, st.getPath.getName,
        st.getLen, st.getModificationTime, Map.empty))
  }

  private[meta] val VersionedName = "^v(\\d+)\\.metadata\\.json$".r
  private[meta] val SequencedName = "^(\\d+)-.*\\.metadata\\.json$".r

  /** Numeric version of a metadata-file name: filesystem-table
    * `v12.metadata.json` → 12, catalog-style `00012-<uuid>.metadata.json`
    * → 12, anything else → -1 (falls back to name order). A plain
    * lexicographic sort would rank `v9` above `v10` and resolve every
    * table with ≥10 commits to a STALE snapshot. */
  def metadataVersion(name: String): Long = name match {
    case VersionedName(n) => n.toLong
    case SequencedName(n) => n.toLong
    case _ => -1L
  }

  /** The table's CURRENT metadata file: via `version-hint.text` when
    * present (the spec's filesystem-table pointer), else the
    * numerically-latest `*.metadata.json` (see [[metadataVersion]]). */
  def currentMetadataFile(fs: FileSystem, root: Path): Path = {
    val meta = new Path(root, "metadata")
    val hint = new Path(meta, "version-hint.text")
    if (fs.exists(hint)) {
      val in = fs.open(hint)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      val p = new Path(meta, s"v$v.metadata.json")
      if (fs.exists(p)) return p
    }
    val candidates = fs.listStatus(meta)
      .filter(_.getPath.getName.endsWith(".metadata.json"))
      .map(_.getPath)
      .sortBy(p => (metadataVersion(p.getName), p.getName))
    if (candidates.isEmpty) {
      throw new IllegalArgumentException(
        s"$root is not an Iceberg table: no metadata/*.metadata.json")
    }
    candidates.last
  }

  /** A required JSON field, or a classified refusal naming the file and
    * the field — the iceberg counterpart of the delta tier's
    * malformed-commit-line contract (a foreign `*.metadata.json` must
    * not surface as a bare NullPointerException). */
  private[meta] def req(node: com.fasterxml.jackson.databind.JsonNode,
      field: String, file: Path): com.fasterxml.jackson.databind.JsonNode = {
    val n = node.get(field)
    if (n == null || n.isNull) {
      throw new RuntimeException(
        s"Malformed Iceberg metadata $file: missing required field '$field'")
    }
    n
  }

  /** Decode one table-metadata JSON file. */
  def readTableMetadata(file: Path, conf: Configuration): IcebergTableInfo = {
    val fs = file.getFileSystem(conf)
    val in = fs.open(file)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    if (node == null || !node.isObject) {
      throw new RuntimeException(
        s"Malformed Iceberg metadata $file: not a JSON object")
    }
    val current =
      if (node.has("current-snapshot-id") &&
          node.get("current-snapshot-id").asLong() != -1L)
        Some(node.get("current-snapshot-id").asLong())
      else None
    import scala.jdk.CollectionConverters._
    val snaps = Option(node.get("snapshots")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty).map { s =>
        IcebergSnapshotInfo(
          snapshotId = req(s, "snapshot-id", file).asLong(),
          timestampMs = req(s, "timestamp-ms", file).asLong(),
          manifestList = req(s, "manifest-list", file).asText(),
          operation = Option(s.get("summary"))
            .flatMap(su => Option(su.get("operation"))).map(_.asText()),
          isCurrent = current.contains(s.get("snapshot-id").asLong()),
          parentSnapshotId =
            Option(s.get("parent-snapshot-id")).map(_.asLong()))
      }
    IcebergTableInfo(
      formatVersion = req(node, "format-version", file).asInt(),
      tableUuid = Option(node.get("table-uuid")).map(_.asText()).getOrElse(""),
      location = Option(node.get("location")).map(_.asText()).getOrElse(""),
      currentSnapshotId = current,
      snapshots = snaps)
  }

  /** One decoded schema of the table metadata's `schemas` list. */
  case class IcebergSchemaInfo(
      schemaId: Int,
      nFields: Int,
      fieldNames: Seq[String],
      isCurrent: Boolean)

  /**
   * SCHEMA HISTORY at metadata cost: every schema the table metadata
   * still lists (iceberg keeps superseded schemas in `schemas`, with
   * `current-schema-id` naming the live one) — the iceberg counterpart
   * of the delta tier's metaData history. Reads ONE small JSON file.
   */
  def schemaHistory(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val fs = root.getFileSystem(hconf)
    val file = currentMetadataFile(fs, root)
    val in = fs.open(file)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    import scala.jdk.CollectionConverters._
    val currentId = Option(node.get("current-schema-id")).map(_.asInt())
    val schemas = Option(node.get("schemas"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty).map { s =>
        val id = req(s, "schema-id", file).asInt()
        val names = Option(s.get("fields"))
          .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
          .map(f => req(f, "name", file).asText())
        IcebergSchemaInfo(id, names.size, names, currentId.contains(id))
      }
    schemas.toDS()
      .select(col("schemaId").as("schema_id"),
        col("nFields").as("n_fields"),
        array_join(col("fieldNames"), ",").as("field_names_csv"),
        col("isCurrent").as("is_current"))
  }

  /**
   * SCHEMA CONFORMANCE audit — the iceberg counterpart of the delta
   * tier's: the CURRENT declared schema (the metadata's `schemas`
   * entry named by `current-schema-id`) vs the PHYSICAL footer schema
   * of every live DATA file of the current snapshot (manifest chain ⋈
   * footer schema facts; no data page is touched). One row per live
   * file: `(path, n_declared, n_present, missing_csv)` — the backfill
   * question a schema evolution leaves behind. A live file with NO
   * footer evidence surfaces with null `n_present`/`missing_csv`
   * (LEFT join): no evidence is never conformance and never a
   * silently-dropped row. V3 DEFAULT VALUES (r19): a field declared
   * with `initial-default` is filled at read for pre-existing rows —
   * it never shows in `missing_csv`; a field with only
   * `write-default` still gaps (old rows read null until backfilled).
   */
  def schemaConformance(spark: SparkSession, table: String): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val fs = root.getFileSystem(hconf)
    val file = currentMetadataFile(fs, root)
    val in = fs.open(file)
    val node =
      try new com.fasterxml.jackson.databind.ObjectMapper().readTree(in)
      finally in.close()
    import scala.jdk.CollectionConverters._
    val currentId = Option(node.get("current-schema-id")).map(_.asInt())
      .getOrElse(throw new IllegalArgumentException(
        s"$table: no current-schema-id in $file"))
    // (name, read-filled): a v3 field carrying `initial-default` is
    // FILLED AT READ for rows that predate it (the spec's default-
    // value contract) — its physical absence is never a backfill gap.
    // A field with only `write-default` still gaps: old rows read
    // null until backfilled (write-default governs new writes only).
    val declaredFields = Option(node.get("schemas"))
      .map(_.elements().asScala.toSeq).getOrElse(Seq.empty)
      .find(s => req(s, "schema-id", file).asInt() == currentId)
      .map(s => Option(s.get("fields")).map(_.elements().asScala.toSeq)
        .getOrElse(Seq.empty).map(f => (req(f, "name", file).asText(),
          f.get("initial-default") != null &&
            !f.get("initial-default").isNull)))
      .getOrElse(throw new IllegalArgumentException(
        s"$table: current-schema-id $currentId has no schemas entry in $file"))
    val declared = declaredFields.map(_._1)
    val gapFields = declaredFields.filterNot(_._2).map(_._1)
    val live = currentFiles(spark, table)
      .filter(col("status") =!= 2 && col("content") === 0)
      .select(col("abs_path"))
    // physical TOP-LEVEL names from each file's own footer; the data
    // subtree is scanned directly (the mixed-depth table root defeats
    // generic partition discovery)
    val present = MetaValues.schemaFactsDf(spark,
      new Path(root, "data").toString)
      .select(col("filepath"),
        split(col("path"), "\\.").getItem(0).as("field"))
      .distinct()
    live.join(present, live("abs_path") === present("filepath"), "left")
      .groupBy(col("abs_path").as("path"))
      .agg(collect_set(col("field")).as("present"))
      .select(col("path"),
        lit(declared.size).as("n_declared"),
        when(size(col("present")) === 0, lit(null))
          .otherwise(size(col("present"))).cast("int").as("n_present"),
        when(size(col("present")) === 0, lit(null).cast("string"))
          .otherwise(array_join(array_sort(array_except(
            lit(gapFields.toArray), col("present"))), ",")).as("missing_csv"))
  }

  private[meta] def openAvro(file: Path, conf: Configuration): org.apache.avro.file.DataFileReader[org.apache.avro.generic.GenericRecord] = {
    val fs = file.getFileSystem(conf)
    val len = fs.getFileStatus(file).getLen
    val in = fs.open(file)
    val seekable = new org.apache.avro.file.SeekableInput {
      override def read(b: Array[Byte], off: Int, l: Int): Int = in.read(b, off, l)
      override def seek(p: Long): Unit = in.seek(p)
      override def tell(): Long = in.getPos
      override def length(): Long = len
      override def close(): Unit = in.close()
    }
    new org.apache.avro.file.DataFileReader(seekable,
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
  }

  private[meta] def str(v: AnyRef): String = v match {
    case null => null
    case u: org.apache.avro.util.Utf8 => u.toString
    case s => s.toString
  }

  private[meta] def optLong(r: org.apache.avro.generic.GenericRecord, name: String): Option[Long] =
    if (r.getSchema.getField(name) == null) None
    else Option(r.get(name)).map(_.asInstanceOf[Number].longValue())

  /** `content` decode shared by both manifest layers: absent in format
    * v1 (data by definition) → 0. */
  private[meta] def contentOf(r: org.apache.avro.generic.GenericRecord): Int =
    optLong(r, "content").map(_.toInt).getOrElse(0)

  /** Decode a manifest-list entry's `partitions` field summaries
    * (spec 507: one record per partition field of the manifest's
    * spec, in field order) — the whole-manifest prune evidence.
    * Absent field or null value → None (writers may omit them). */
  private def fieldSummariesOf(
      r: org.apache.avro.generic.GenericRecord,
      file: Path): Option[Seq[IcebergFieldSummary]] = {
    def bytes(v: Any): Array[Byte] = v match {
      case b: java.nio.ByteBuffer =>
        val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
      case a: Array[Byte] => a
      case other => throw new IllegalArgumentException(
        s"$file: partitions bound is ${other.getClass.getName}, " +
          "expected bytes")
    }
    if (r.getSchema.getField("partitions") == null) None
    else Option(r.get("partitions")).map {
      case l: java.util.List[_] =>
        import scala.jdk.CollectionConverters._
        l.asScala.toSeq.map {
          case s: org.apache.avro.generic.GenericRecord =>
            IcebergFieldSummary(
              containsNull = Option(s.get("contains_null"))
                .exists(_.asInstanceOf[Boolean]),
              containsNan =
                if (s.getSchema.getField("contains_nan") == null) None
                else Option(s.get("contains_nan"))
                  .map(_.asInstanceOf[Boolean]),
              lowerBound = Option(s.get("lower_bound")).map(bytes),
              upperBound = Option(s.get("upper_bound")).map(bytes))
          case other => throw new IllegalArgumentException(
            s"$file: partitions element is ${other.getClass.getName}, " +
              "expected a field_summary record")
        }
      case other => throw new IllegalArgumentException(
        s"$file: partitions is ${other.getClass.getName}, expected " +
          "an array of field_summary records")
    }
  }

  /** Decode a manifest LIST (one entry per manifest of a snapshot). */
  def readManifestList(file: Path, conf: Configuration): Seq[IcebergManifestInfo] = {
    val reader = openAvro(file, conf)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[IcebergManifestInfo]
      while (reader.hasNext) {
        val r = reader.next()
        out += IcebergManifestInfo(
          manifestPath = str(r.get("manifest_path")),
          manifestLength = r.get("manifest_length").asInstanceOf[Number].longValue(),
          content = contentOf(r),
          addedFiles = optLong(r, "added_files_count")
            .orElse(optLong(r, "added_data_files_count")),
          existingFiles = optLong(r, "existing_files_count")
            .orElse(optLong(r, "existing_data_files_count")),
          deletedFiles = optLong(r, "deleted_files_count")
            .orElse(optLong(r, "deleted_data_files_count")),
          addedRows = optLong(r, "added_rows_count"),
          addedSnapshotId = optLong(r, "added_snapshot_id"),
          sequenceNumber = optLong(r, "sequence_number"),
          partitionSpecId = optLong(r, "partition_spec_id").map(_.toInt),
          partitionSummaries = fieldSummariesOf(r, file),
          firstRowId = optLong(r, "first_row_id"))
      }
      out.toSeq
    } finally {
      reader.close()
    }
  }

  /** Decode a MANIFEST (one entry per data file). */
  def readManifest(file: Path, conf: Configuration): Seq[IcebergFileEntry] = {
    val reader = openAvro(file, conf)
    try {
      val out = scala.collection.mutable.ArrayBuffer.empty[IcebergFileEntry]
      while (reader.hasNext) {
        val r = reader.next()
        val df = r.get("data_file").asInstanceOf[org.apache.avro.generic.GenericRecord]
        // v3 deletion vectors are Puffin-format delete entries carrying
        // referenced_data_file + a blob span; decoded by [[PuffinCodec]]
        // so the census can subtract them. Checked PER ENTRY (not just
        // via the table's format-version) so a mislabeled v2 table
        // still classifies its DVs instead of censusing them as data;
        // a Puffin entry that is NOT a well-formed DV (wrong content,
        // no referenced file, no blob span) REFUSES — there is no
        // faithful way to count it.
        val fmt = str(df.get("file_format"))
        def optStr(name: String): Option[String] = {
          val f = df.getSchema.getField(name)
          if (f == null) None else Option(df.get(name)).map(_.toString)
        }
        def optDfLong(name: String): Option[Long] = {
          val f = df.getSchema.getField(name)
          if (f == null) None
          else Option(df.get(name)).map(_.asInstanceOf[Number].longValue())
        }
        val refFile = optStr("referenced_data_file")
        val cOffset = optDfLong("content_offset")
        val cSize = optDfLong("content_size_in_bytes")
        val eqIds: Option[Seq[Int]] = {
          val f = df.getSchema.getField("equality_ids")
          if (f == null) None
          else Option(df.get("equality_ids")).map {
            case l: java.util.List[_] =>
              import scala.jdk.CollectionConverters._
              l.asScala.toSeq.map(_.asInstanceOf[Number].intValue())
            case other => throw new IllegalArgumentException(
              s"$file: equality_ids is ${other.getClass.getName}, " +
                "expected an int array")
          }
        }
        if (fmt != null && fmt.equalsIgnoreCase("puffin") &&
            (contentOf(df) != 1 || refFile.isEmpty ||
              cOffset.isEmpty || cSize.isEmpty)) {
          throw new UnsupportedOperationException(
            s"$file: manifest entry ${str(df.get("file_path"))} is " +
              "Puffin-format but not a well-formed v3 deletion vector " +
              "(content=1 with referenced_data_file + content_offset + " +
              "content_size_in_bytes) — refusing rather than miscounting")
        }
        // the partition struct (the spec's r102) is typed per partition
        // spec; decode generically — field names from the manifest's own
        // schema, values stringified the way the delta tier renders
        // partitionValues (null stays null-marked absent)
        val partition = df.getSchema.getField("partition") match {
          case null => Map.empty[String, String]
          case _ =>
            df.get("partition") match {
              case pr: org.apache.avro.generic.GenericRecord =>
                import scala.jdk.CollectionConverters._
                pr.getSchema.getFields.asScala.flatMap { pf =>
                  Option(pr.get(pf.name())).map(v => pf.name() -> v.toString)
                }.toMap
              case _ => Map.empty[String, String]
            }
        }
        // value bounds (r126/r128): avro renders map<int, binary> either
        // as a true map (string keys) or the spec's array-of-(key,value)
        // records — decode both; payloads stay raw single-value bytes
        def boundsOf(name: String): Map[Int, Array[Byte]] = {
          def toBytes(v: Any): Array[Byte] = v match {
            case b: java.nio.ByteBuffer =>
              val a = new Array[Byte](b.remaining()); b.duplicate().get(a); a
            case a: Array[Byte] => a
            case other => throw new IllegalArgumentException(
              s"$file: $name value is ${other.getClass.getName}, " +
                "expected bytes")
          }
          if (df.getSchema.getField(name) == null) Map.empty
          else Option(df.get(name)).map {
            case l: java.util.List[_] =>
              import scala.jdk.CollectionConverters._
              l.asScala.map {
                case kv: org.apache.avro.generic.GenericRecord =>
                  kv.get("key").asInstanceOf[Number].intValue() ->
                    toBytes(kv.get("value"))
                case other => throw new IllegalArgumentException(
                  s"$file: $name entry is ${other.getClass.getName}")
              }.toMap
            case m: java.util.Map[_, _] =>
              import scala.jdk.CollectionConverters._
              m.asScala.map { case (k, v) =>
                k.toString.toInt -> toBytes(v)
              }.toMap
            case _ => Map.empty[Int, Array[Byte]]
          }.getOrElse(Map.empty)
        }
        // count maps (r109/r110): same dual avro rendering, long values
        def countsOf(name: String): Map[Int, Long] = {
          def toLong(v: Any): Long = v match {
            case n: Number => n.longValue()
            case other => throw new IllegalArgumentException(
              s"$file: $name value is ${other.getClass.getName}, " +
                "expected a long")
          }
          if (df.getSchema.getField(name) == null) Map.empty
          else Option(df.get(name)).map {
            case l: java.util.List[_] =>
              import scala.jdk.CollectionConverters._
              l.asScala.map {
                case kv: org.apache.avro.generic.GenericRecord =>
                  kv.get("key").asInstanceOf[Number].intValue() ->
                    toLong(kv.get("value"))
                case other => throw new IllegalArgumentException(
                  s"$file: $name entry is ${other.getClass.getName}")
              }.toMap
            case m: java.util.Map[_, _] =>
              import scala.jdk.CollectionConverters._
              m.asScala.map { case (k, v) =>
                k.toString.toInt -> toLong(v)
              }.toMap
            case _ => Map.empty[Int, Long]
          }.getOrElse(Map.empty)
        }
        out += IcebergFileEntry(
          status = r.get("status").asInstanceOf[Number].intValue(),
          content = contentOf(df),
          filePath = str(df.get("file_path")),
          fileFormat = str(df.get("file_format")),
          recordCount = df.get("record_count").asInstanceOf[Number].longValue(),
          fileSizeBytes = df.get("file_size_in_bytes").asInstanceOf[Number].longValue(),
          partition = partition,
          referencedDataFile = refFile,
          contentOffset = cOffset,
          contentSizeInBytes = cSize,
          equalityIds = eqIds,
          sequenceNumber = optLong(r, "sequence_number"),
          snapshotId = optLong(r, "snapshot_id"),
          lowerBounds = boundsOf("lower_bounds"),
          upperBounds = boundsOf("upper_bounds"),
          valueCounts = countsOf("value_counts"),
          nullValueCounts = countsOf("null_value_counts"),
          firstRowId = optLong(df, "first_row_id"))
      }
      out.toSeq
    } finally {
      reader.close()
    }
  }

  /**
   * File entries of the table's CURRENT snapshot as a DataFrame:
   * `(status, content, file_path, file_format, record_count,
   * file_size_bytes, abs_path, manifest_path)`. Live files are
   * `status != 2` (the spec's DELETED); `content` distinguishes data
   * files (0) from position/equality DELETE files (1/2) — a
   * merge-on-read census must subtract delete-file rows, not add them.
   * Driver work: one metadata JSON + one manifest list (both small);
   * the per-manifest decode fans out as a typed flatMap over the
   * manifest paths — one task per manifest, the scale unit of a big
   * snapshot.
   */
  def currentFiles(spark: SparkSession, table: String): DataFrame =
    filesAt(spark, table, None)

  /**
   * TIME TRAVEL at metadata cost: [[currentFiles]] as of `snapshotId`
   * (`None` = the current snapshot). Any snapshot still listed in the
   * table metadata resolves through its own manifest list; an expired
   * (metadata-removed) id refuses with the surviving ids named — no
   * evidence, never a partial set.
   */
  def filesAt(
      spark: SparkSession, table: String,
      snapshotId: Option[Long]): DataFrame = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val fs = root.getFileSystem(hconf)
    val info = readTableMetadata(currentMetadataFile(fs, root), hconf)
    requireCensusableVersion(info, table)
    val current = snapshotId match {
      case None => info.snapshots.find(_.isCurrent).getOrElse(
        throw new IllegalArgumentException(s"$table: no current snapshot"))
      case Some(id) => info.snapshots.find(_.snapshotId == id).getOrElse(
        throw new IllegalArgumentException(
          s"$table: no snapshot $id (surviving: " +
            s"${info.snapshots.map(_.snapshotId).mkString(", ")})"))
    }
    filesFromManifestList(spark, root, current.manifestList)
  }

  /**
   * VERSION AS OF a NAMED REF — [[filesAt]] resolved through the
   * metadata's `refs` map (branches and tags both pin a snapshot-id;
   * the spec's implicit `main` of a refs-less table is the current
   * snapshot). Refuses when the ref is unknown (declared refs named)
   * and, via [[filesAt]], when the ref DANGLES on an expired snapshot
   * (surviving ids named) — a dangling ref must never silently fall
   * back to current.
   */
  def filesAtRef(
      spark: SparkSession, table: String, ref: String): DataFrame =
    filesAt(spark, table, Some(resolveRef(spark, table, ref)))

  /** Resolve a named ref (branch/tag) to its snapshot id from the
    * metadata's `refs` map; a ref-less table resolves `main` to the
    * current snapshot (the spec's implicit main branch). Unknown refs
    * refuse with the declared names. */
  private[meta] def resolveRef(
      spark: SparkSession, table: String, ref: String): Long = {
    val (_, _, mf, node) = currentMetadataNode(spark, table)
    import scala.jdk.CollectionConverters._
    val refs: Map[String, Long] =
      Option(node.get("refs")).filter(_.isObject).map { r =>
        r.properties().asScala
          .map(e => e.getKey -> req(e.getValue, "snapshot-id", mf).asLong())
          .toMap
      }.getOrElse(Map.empty)
    refs.get(ref).orElse {
      if (ref == "main" && refs.isEmpty)
        Option(node.get("current-snapshot-id")).map(_.asLong())
      else None
    }.getOrElse(throw new IllegalArgumentException(
      s"$table: no ref '$ref' (declared: " +
        s"${(refs.keys.toSeq ++
          (if (refs.isEmpty) Seq("main") else Nil)).sorted.mkString(", ")})"))
  }

  /** [[changelogScan]] with NAMED endpoints — the "what changed
    * between tag v1 and main" question asked exactly as users ask it:
    * both refs resolve through the metadata's refs map, then the
    * ordinary ancestry-validated row-level changelog runs — a ref on
    * a divergent branch (from not an ancestor of to) refuses through
    * the same lineage check, and a dangling ref refuses at snapshot
    * resolution. */
  def changelogScanRef(
      spark: SparkSession, table: String,
      fromRef: String, toRef: String): DataFrame =
    changelogScan(spark, table,
      resolveRef(spark, table, fromRef), resolveRef(spark, table, toRef))

  /** Format versions 1–3 census faithfully (v3 deletion vectors
    * decode through [[PuffinCodec]]; their manifest `record_count` is
    * the DV cardinality, so count subtraction stays exact and
    * [[positionDeleteRows]] resolves them row-wise). Anything NEWER
    * refuses up front with the version named — an unknown future
    * format may change what "live rows" means in ways this tier
    * cannot see. (The per-entry Puffin well-formedness check in
    * [[readManifest]] backstops tables whose metadata lies about the
    * version.) */
  private[meta] def requireCensusableVersion(
      info: IcebergTableInfo, where: String): Unit = {
    if (info.formatVersion > 3) {
      throw new UnsupportedOperationException(
        s"$where: Iceberg format-version ${info.formatVersion} is newer " +
          "than this census tier understands (max 3) — refusing rather " +
          "than miscounting under unknown semantics")
    }
  }

  /** The one-task-per-manifest fan-out for one snapshot's manifest
    * list — shared by [[filesAt]] and the streaming store refresh. */
  private[meta] def filesFromManifestList(
      spark: SparkSession, root: Path, manifestList: String): DataFrame = {
    import spark.implicits._
    val hconf = spark.sessionState.newHadoopConf()
    val manifests = readManifestList(
      resolve(root, manifestList), hconf)
      .map(m => (resolve(root, m.manifestPath).toString, m.sequenceNumber))
    val rootStr = root.toString
    val conf = new SerializableHadoopConf(hconf)
    manifests.toDS()
      .flatMap { case (mp, mlSeq) =>
        readManifest(new Path(mp), conf.value)
          .map { e =>
            // spec r134 inheritance: an entry writing NULL
            // sequence_number inherits the manifest's data sequence
            // number — but only for ADDED entries (existing/deleted
            // entries must carry their own; a null there stays null,
            // "no evidence")
            val dataSeq = e.sequenceNumber
              .orElse(if (e.status == 1) mlSeq else None)
            (e.status, e.content, e.filePath, e.fileFormat,
              e.recordCount, e.fileSizeBytes,
              resolve(new Path(rootStr), e.filePath).toString, mp,
              e.partition, e.referencedDataFile, e.contentOffset,
              e.contentSizeInBytes, e.equalityIds, dataSeq)
          }
      }
      .toDF("status", "content", "file_path", "file_format",
        "record_count", "file_size_bytes", "abs_path", "manifest_path",
        "partition_values", "referenced_data_file", "content_offset",
        "content_size", "equality_ids", "data_sequence_number")
  }

  /**
   * POSITION-DELETE rows of the current snapshot: `(data_path, pos)` —
   * one row per logically-deleted row position, from BOTH delete
   * shapes: format-v2 position-delete parquet files (the spec's
   * `(file_path, pos)` rows, a distributed parquet scan) and
   * format-v3 PUFFIN deletion vectors (decoded distributed by
   * [[PuffinCodec]], one unit per DV — blob spans and payloads stay
   * executor-side) — the merge-on-read audit verified row-wise, not
   * just by record_count subtraction. REFUSES when an EQUALITY delete
   * file (`content=2`) is live: its deletes resolve only through a
   * data scan, and silently ignoring it would undercount. The one
   * driver boundary is a 3-field classification row per delete ENTRY
   * (manifest-entry scale — the v2 parquet path list needs it anyway),
   * collected in a single manifest walk.
   */
  def positionDeleteRows(spark: SparkSession, table: String): DataFrame =
    positionDeleteRowsImpl(spark, table, allowEquality = false)

  /** [[positionDeleteRows]] body; `allowEquality = true` is the
    * [[mergedNetCensus]] composition path, where equality deletes are
    * resolved by their own scan instead of refused. */
  private def positionDeleteRowsImpl(
      spark: SparkSession, table: String,
      allowEquality: Boolean): DataFrame = {
    import spark.implicits._
    val live = currentFiles(spark, table).filter(col("status") =!= 2)
    val dels = live.filter(col("content") =!= 0)
    val isDv = col("file_format").isNotNull &&
      upper(col("file_format")) === "PUFFIN"
    // ONE manifest walk collects the delete-entry CLASSIFICATION
    // (3 small fields per entry — manifest-entry scale, the same
    // driver boundary the v2 parquet path list needs anyway); the DV
    // PAYLOADS never visit the driver
    val delMetaAll = dels
      .select(col("content"), isDv.as("is_dv"), col("abs_path")).collect()
    if (!allowEquality && delMetaAll.exists(_.getInt(0) == 2)) {
      throw new UnsupportedOperationException(
        s"$table: equality delete files are live — their deleted rows " +
          "resolve only through a data scan (equalityDeleteRows); " +
          "refusing a partial position audit")
    }
    val delMeta = delMetaAll.filter(_.getInt(0) != 2)
    val empty = Seq.empty[(String, Long)].toDF("data_path", "pos")
    // BOTH legs render data_path through the same resolve(root, _)
    // rule: a relocated table's delete rows must join its live
    // abs_path uniformly whether they came from a v2 parquet or a DV
    val tableRoot = {
      val hconf = spark.sessionState.newHadoopConf()
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val rootPrefix = tableRoot.toString
    // a scheme-less absolute path (the shape local writers embed in v2
    // position-delete rows) must gain the root's scheme, or it never
    // joins the qualified abs_path/_metadata rendering and the delete
    // silently stops subtracting
    val scheme = rootPrefix.substring(0,
      math.max(0, rootPrefix.indexOf(":/") + 1))
    def resolved(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c.contains(":/"), c) // already scheme-qualified (file:/, s3a://)
        .when(c.startsWith("/"), concat(lit(scheme), c))
        .otherwise(concat(lit(rootPrefix + "/"), c))
    // v2 shape: position-delete PARQUET files carry (file_path, pos)
    // rows themselves — a distributed parquet scan
    val posFiles = delMeta.filter(r => !r.getBoolean(1))
      .map(_.getString(2)).distinct.toSeq
    val fromFiles =
      if (posFiles.isEmpty) empty
      else spark.read.parquet(posFiles: _*)
        .select(resolved(col("file_path")).as("data_path"),
          col("pos").cast("long").as("pos"))
    // v3 shape: PUFFIN deletion-vector blobs, decoded DISTRIBUTED —
    // one decode unit per DV, the format's own granularity (a vector
    // never spans data files); the blob spans and payloads stay
    // executor-side. A cardinality disagreement between the manifest's
    // record_count and the decoded payload refuses rather than
    // undercounting. Skipped entirely (no second manifest walk) when
    // the classification found no DV entries.
    val fromDvs =
      if (!delMeta.exists(_.getBoolean(1))) empty
      else {
        val hconf = spark.sessionState.newHadoopConf()
        val root = {
          val p = new Path(table)
          p.getFileSystem(hconf).makeQualified(p)
        }
        val rootStr = root.toString
        val conf = new SerializableHadoopConf(hconf)
        dels.filter(isDv)
          .select(col("abs_path"), col("referenced_data_file"),
            col("content_offset"), col("content_size"), col("record_count"))
          // a DV entry carried by more than one manifest of the
          // snapshot must decode ONCE (the v2 parquet leg gets the
          // same guard via its path distinct)
          .dropDuplicates("abs_path", "content_offset", "content_size")
          .as[(String, String, Long, Long, Long)]
          .flatMap { case (puffinPath, ref, off, size, card) =>
            val positions = PuffinCodec.readDvBlob(
              new Path(puffinPath), conf.value, off, size)
            if (positions.length != card) {
              throw new IllegalArgumentException(
                s"$puffinPath: deletion vector for $ref decodes " +
                  s"${positions.length} positions but its manifest entry " +
                  s"claims $card — refusing to miscount")
            }
            val abs = resolve(new Path(rootStr), ref).toString
            positions.map(p => (abs, p))
          }
          .toDF("data_path", "pos")
      }
    fromFiles.unionByName(fromDvs)
  }

  /** Field id → (name, type-as-text) of the table's CURRENT schema
    * (the `schemas` entry named by `current-schema-id`; v1 fallback:
    * the bare `schema` field). Nested types map to their JSON rendering
    * — callers that can only match primitives refuse on those. */
  private[meta] def currentSchemaFieldsById(
      mf: Path, node: com.fasterxml.jackson.databind.JsonNode):
      Map[Int, (String, String)] = {
    import scala.jdk.CollectionConverters._
    val schemaNode = Option(node.get("current-schema-id")).flatMap { sid =>
      Option(node.get("schemas")).flatMap(_.elements().asScala.toSeq
        .find(s => Option(s.get("schema-id")).exists(_.asInt() == sid.asInt())))
    }.orElse(Option(node.get("schema"))).getOrElse(
      throw new IllegalArgumentException(
        s"$mf: no current schema (neither schemas/current-schema-id nor schema)"))
    Option(schemaNode.get("fields")).map(_.elements().asScala.toSeq)
      .getOrElse(Seq.empty)
      .map { f =>
        val t = f.get("type")
        val tpe = if (t != null && t.isTextual) t.asText() else String.valueOf(t)
        req(f, "id", mf).asInt() -> (req(f, "name", mf).asText(), tpe)
      }.toMap
  }

  /**
   * EQUALITY-DELETE rows of the current snapshot, resolved ROW-WISE
   * (format v2 merge-on-read, the Flink-writer shape): each live
   * equality-delete file (`content=2`) carries VALUE rows; a data row
   * is deleted when it equals a delete row on the delete file's
   * `equality_ids` columns (null matches null — the spec's
   * IS-NOT-DISTINCT semantics). One output row per deleted data row:
   * `(data_path, eq_cols, key_csv)` — the file it lives in, the
   * matched column names (field-id order), and the matched values
   * (`|`-joined, nulls as `NULL`). The resolution reads the union of
   * every group's in-scope data files ONCE ([[eqMatchedRows]]) and
   * null-safe-joins against the delete files' distinct keys —
   * Catalyst broadcasts the delete side when its file sizes are small
   * (the overwhelmingly common shape; no hint is forced, so a
   * pathological delete set can still shuffle-join).
   *
   * SEQUENCE SCOPING (spec r134): an equality delete applies only to
   * data files whose DATA SEQUENCE NUMBER is STRICTLY LESS than the
   * delete file's — rows appended after the delete must survive even
   * when their keys match. When the table carries sequence numbers
   * everywhere, the scope is enforced per delete group; when NOTHING
   * carries one (the v1-compat shape), the delete applies to every
   * live data file; MIXED evidence refuses — guessing either way
   * over- or under-deletes.
   *
   * PARTITION SCOPING (spec: delete-file scope): an equality delete
   * written under a PARTITIONED spec (its manifest entry carries a
   * non-empty partition tuple) applies only to data files of the SAME
   * partition; one written under the unpartitioned spec (empty tuple)
   * is a GLOBAL delete and applies to every sequence-in-scope data
   * file. A key that recurs across partitions must survive everywhere
   * except the delete's own partition — applying a partitioned delete
   * table-wide silently over-deletes.
   *
   * REFUSES — never a partial answer — when: no equality-delete file
   * is live; a delete entry lacks `equality_ids` or is not parquet; an
   * id is missing from the current schema; an equality column is
   * float/double (NaN != NaN under join equality while Iceberg pins
   * NaN == NaN for delete matching — resolving through a join would
   * silently miss those rows); or sequence evidence is mixed. Driver
   * boundaries: the delete-entry classification (entry scale) and the
   * live data path list (the MetaPrune surviving-paths idiom).
   */
  def equalityDeleteRows(spark: SparkSession, table: String): DataFrame =
    eqMatchedRows(spark, table)
      .select(col("data_path"), col("eq_cols"), col("key_csv"))

  /**
   * The validated, sequence- and partition-scoped delete GROUPS of the
   * current snapshot — one `(equality column names, distinct delete
   * keys, in-scope data paths)` triple per (id set, delete sequence,
   * partition tuple). All of [[equalityDeleteRows]]'s refusals live
   * here (shared with every consumer): no live equality delete,
   * non-parquet delete file, missing equality_ids, unknown field id,
   * float/double equality column, mixed sequence evidence. Groups
   * whose scope is empty are dropped (nothing to delete from).
   */
  private def eqDeleteGroups(
      spark: SparkSession, table: String, requireLive: Boolean = true,
      atSnapshot: Option[Long] = None,
      onlyDeletePaths: Option[Set[String]] = None):
      Seq[(Seq[String], DataFrame, Seq[String])] = {
    val (_, _, mf, node) = currentMetadataNode(spark, table)
    val fieldsById = currentSchemaFieldsById(mf, node)
    val live = filesAt(spark, table, atSnapshot).filter(col("status") =!= 2)
    val eqEntries = live.filter(col("content") === 2)
      .select(col("abs_path"), col("file_format"), col("equality_ids"),
        col("data_sequence_number"), col("partition_values"))
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        Option(r.getSeq[Int](2)).map(_.toSeq),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getMap[String, String](4).toSeq.sortBy(_._1)))
      // a caller resolving a SUBSET (the changelog's range-appended
      // deletes) scopes here; sequence/partition semantics are shared
      .filter(e => onlyDeletePaths.forall(_.contains(e._1)))
    if (eqEntries.isEmpty) {
      if (!requireLive) return Seq.empty
      throw new IllegalArgumentException(
        s"$table: no equality delete files are live — nothing to resolve")
    }
    eqEntries.foreach { case (p, fmt, ids, _, _) =>
      if (fmt == null || !fmt.equalsIgnoreCase("parquet")) {
        throw new UnsupportedOperationException(
          s"$table: equality delete file $p is ${String.valueOf(fmt)}, " +
            "only parquet delete files are supported")
      }
      if (ids.forall(_.isEmpty)) {
        throw new IllegalArgumentException(
          s"$table: equality delete file $p declares no equality_ids — " +
            "its match columns are unknowable, refusing to guess")
      }
    }
    val dataRaw = live
      .filter(col("content") === 0)
      .select(col("abs_path"), col("data_sequence_number"),
        col("file_format"), col("partition_values"))
      .collect()
    // a NON-parquet data file cannot be scanned by the semi join — and
    // silently leaving it out of every delete's scope would hand the
    // caller an answer missing its deleted rows. Refuse, like the
    // delete-file side does.
    dataRaw.find(r => r.getString(2) == null ||
        !r.getString(2).equalsIgnoreCase("parquet")).foreach { r =>
      throw new UnsupportedOperationException(
        s"$table: data file ${r.getString(0)} is " +
          s"${String.valueOf(r.getString(2))} — only parquet data files " +
          "can be equality-resolved; a scope silently missing it would " +
          "miscount")
    }
    val dataFiles = dataRaw
      .map(r => (r.getString(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getMap[String, String](3).toSeq.sortBy(_._1)))
      .distinct.toSeq
    if (dataFiles.isEmpty) return Seq.empty
    // sequence posture: all-carry → strict scoping; none-carry → the
    // v1-compat apply-to-all; mixed → unknowable, refuse
    val seqs = eqEntries.map(_._4) ++ dataFiles.map(_._2)
    val scoped = seqs.forall(_.isDefined)
    if (!scoped && seqs.exists(_.isDefined)) {
      throw new UnsupportedOperationException(
        s"$table: sequence-number evidence is MIXED (some entries carry " +
          "data_sequence_number, some do not) — the delete scope is " +
          "unknowable, refusing rather than over- or under-deleting")
    }
    // group by (id set, delete sequence, partition tuple): exactly the
    // data files the spec says the group applies to — a NON-empty
    // partition tuple (a delete written under a partitioned spec)
    // scopes the group to same-partition data files; an empty tuple
    // (the unpartitioned-spec shape) is a global delete
    eqEntries
      .groupBy(e => (e._3.get, if (scoped) e._4 else None, e._5)).toSeq
      .flatMap { case ((ids, delSeq, delPart), entries) =>
        val cols = ids.map { id =>
          fieldsById.getOrElse(id, throw new IllegalArgumentException(
            s"$table: equality_ids references field id $id which the " +
              s"current schema does not declare (known: " +
              s"${fieldsById.keys.toSeq.sorted.mkString(", ")})"))
        }
        cols.foreach { case (name, tpe) =>
          if (tpe == "float" || tpe == "double") {
            throw new UnsupportedOperationException(
              s"$table: equality column '$name' is $tpe — NaN equality " +
                "under the spec differs from join equality; refusing a " +
                "resolution that would silently miss NaN-keyed deletes")
          }
        }
        val seqScope = delSeq match {
          case Some(ds) => dataFiles.collect {
            case (p, Some(fs), part) if fs < ds => (p, part)
          }
          case None => dataFiles.map(d => (d._1, d._3))
        }
        val inScope =
          if (delPart.isEmpty) seqScope.map(_._1)
          else seqScope.collect { case (p, part) if part == delPart => p }
        if (inScope.isEmpty) None
        else {
          val names = cols.map(_._1)
          val delKeys = spark.read.parquet(entries.map(_._1).distinct: _*)
            .select(names.map(col): _*).dropDuplicates().alias("k")
          Some((names, delKeys, inScope))
        }
      }
  }

  /**
   * Equality deletes resolved to POSITIONS — `(data_path, pos)`, the
   * same shape as [[positionDeleteRows]]: each group's null-safe semi
   * join carries `_metadata.row_index` through, and the union is
   * DISTINCT so a row matched by several delete groups counts once.
   * The building block of [[equalityNetCensus]].
   */
  def equalityDeletePositions(spark: SparkSession, table: String): DataFrame =
    eqMatchedRows(spark, table)
      .select(col("data_path"), col("pos"))
      .dropDuplicates("data_path", "pos")

  /**
   * The shared resolution behind [[equalityDeleteRows]] /
   * [[equalityDeletePositions]]: ONE distributed scan over the union
   * of every delete group's in-scope data files (instead of one
   * `spark.read.parquet` per group — G groups over the same table must
   * not read the data G times), tagged with the groups each file is in
   * scope for via a broadcast `(gid, data_path)` membership join
   * (manifest-entry scale, the same driver boundary the path list
   * already is). Matching joins on `(gid, key)` where key is
   * `to_json(struct(group columns))` — JSON escaping keeps string keys
   * injective and null fields drop identically on both sides, so
   * string equality of the rendered key IS the spec's null-safe
   * column-wise equality (the delete side is cast to the scan side's
   * column types first, so both render through the same types).
   * Emits one row per (matched data row, matching group):
   * `(data_path, pos, eq_cols, key_csv)`.
   */
  private[meta] def eqMatchedRows(
      spark: SparkSession, table: String,
      requireLive: Boolean = true,
      atSnapshot: Option[Long] = None,
      onlyDeletePaths: Option[Set[String]] = None): DataFrame = {
    import spark.implicits._
    val groups = eqDeleteGroups(spark, table, requireLive, atSnapshot,
      onlyDeletePaths).zipWithIndex.map {
      case ((names, delKeys, inScope), gid) => (gid, names, delKeys, inScope)
    }
    if (groups.isEmpty) {
      return Seq.empty[(String, Long, String, String)]
        .toDF("data_path", "pos", "eq_cols", "key_csv")
    }
    val allPaths = groups.flatMap(_._4).distinct
    val allNames = groups.flatMap(_._2).distinct
    val scan = spark.read.parquet(allPaths: _*)
      .select(col("_metadata.file_path").as("data_path") +:
        col("_metadata.row_index").as("pos") +:
        allNames.map(col): _*)
    val scanType = scan.schema.map(f => f.name -> f.dataType).toMap
    def jsonKey(names: Seq[String]): org.apache.spark.sql.Column =
      to_json(struct(names.map(col): _*))
    val delKeysAll = groups.map { case (gid, names, delKeys, _) =>
      delKeys
        .select(names.map(n => delKeys(n).cast(scanType(n)).as(n)): _*)
        .select(lit(gid).as("gid"), jsonKey(names).as("eq_key"))
        .dropDuplicates()
    }.reduce(_ unionByName _)
    val membership = broadcast(
      groups.flatMap { case (gid, _, _, paths) => paths.map((gid, _)) }
        .toDF("gid", "data_path"))
    def byGid(value: Int => org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      groups.tail.foldLeft(
        when(col("gid") === groups.head._1, value(groups.head._1))) {
        case (acc, (gid, _, _, _)) => acc.when(col("gid") === gid, value(gid))
      }
    val namesOf = groups.map(g => g._1 -> g._2).toMap
    scan.join(membership, Seq("data_path"))
      .withColumn("eq_key", byGid(gid => jsonKey(namesOf(gid))))
      .join(delKeysAll, Seq("gid", "eq_key"), "left_semi")
      .select(col("data_path"), col("pos"),
        byGid(gid => lit(namesOf(gid).mkString(","))).as("eq_cols"),
        byGid(gid => array_join(array(namesOf(gid).map(n =>
          coalesce(col(n).cast("string"), lit("NULL"))): _*), "|"))
          .as("key_csv"))
  }

  /**
   * The EXACT net census under equality deletes — the working path the
   * metadata-cost census refuses into: one row per live data file with
   * `(record_count, eq_deleted, net_rows)` where `eq_deleted` counts
   * DISTINCT [[equalityDeletePositions]] rows (a row matched by
   * several delete groups is subtracted once). Data files outside
   * every delete's scope (or matching nothing) report `eq_deleted` 0.
   * Position deletes (`content=1`) are NOT folded in here — compose
   * with [[positionDeleteRows]] when a table carries both shapes.
   */
  def equalityNetCensus(spark: SparkSession, table: String): DataFrame = {
    val deleted = equalityDeletePositions(spark, table)
      .groupBy(col("data_path"))
      .agg(count(lit(1)).cast("long").as("eq_deleted"))
    currentFiles(spark, table)
      .filter(col("status") =!= 2 && col("content") === 0)
      .select(col("abs_path").as("data_path"),
        col("record_count"))
      .join(deleted, Seq("data_path"), "left")
      .select(col("data_path"), col("record_count"),
        coalesce(col("eq_deleted"), lit(0L)).as("eq_deleted"),
        (col("record_count") - coalesce(col("eq_deleted"), lit(0L)))
          .as("net_rows"))
  }

  /**
   * The MERGED net census — both v2 delete shapes at once, the table
   * state neither single-shape path will touch ([[positionDeleteRows]]
   * refuses live equality deletes; [[equalityNetCensus]] ignores
   * position deletes by contract): one row per live data file with
   * `record_count`, `deleted` = DISTINCT positions removed by EITHER
   * shape (a row a position delete names AND an equality key matches
   * is subtracted once), and `net_rows`. Position evidence comes from
   * the position/DV legs ([[positionDeleteRowsImpl]]); equality
   * evidence from the single tagged scan ([[eqMatchedRows]], empty
   * when no equality delete is live). Refuses only when NO delete of
   * either shape is live — an all-zero census reads as "verified
   * clean" when the truth is "nothing to verify".
   */
  def mergedNetCensus(spark: SparkSession, table: String): DataFrame = {
    val pos = positionDeleteRowsImpl(spark, table, allowEquality = true)
    val eq = eqMatchedRows(spark, table, requireLive = false)
      .select(col("data_path"), col("pos"))
    val deleted = pos.unionByName(eq)
      .dropDuplicates("data_path", "pos")
      .groupBy(col("data_path"))
      .agg(count(lit(1)).cast("long").as("deleted"))
    val live = currentFiles(spark, table)
      .filter(col("status") =!= 2)
    if (live.filter(col("content") =!= 0).limit(1).count() == 0) {
      throw new IllegalArgumentException(
        s"$table: no delete files of either shape are live — nothing " +
          "to merge; use the metadata-cost census instead")
    }
    live.filter(col("content") === 0)
      .select(col("abs_path").as("data_path"), col("record_count"))
      .join(deleted, Seq("data_path"), "left")
      .select(col("data_path"), col("record_count"),
        coalesce(col("deleted"), lit(0L)).as("deleted"),
        (col("record_count") - coalesce(col("deleted"), lit(0L)))
          .as("net_rows"))
  }

  /**
   * INCREMENTAL APPEND SCAN at metadata cost — the "what arrived since
   * snapshot X" question every incremental ingest asks: one row per
   * file the snapshots in `(fromSnapshot, toSnapshot]` ADDED, resolved
   * from `toSnapshot`'s OWN manifest list (per-snapshot complete) by
   * manifest-list attribution — a manifest with
   * `added_snapshot_id > fromSnapshot` contributes its ADDED entries
   * (`status=1`); reused older manifests contribute nothing, exactly
   * like the summary audit's attribution rule. Emits data AND delete
   * files (`content` distinguishes them — an incremental consumer must
   * see new deletes, or it resurrects rows). The range resolves by the
   * spec's `parent-snapshot-id` ancestry chain (to → from) when any
   * snapshot carries one — same-millisecond commits resolve and
   * retained non-ancestors are excluded; with NO parent pointers
   * anywhere (old writers) it falls back to timestamp order. Refuses
   * when either snapshot id is not in the metadata's snapshot list,
   * when `from` is not an ancestor of `to` (or, in the fallback, not
   * strictly older / timestamps tie), or when any manifest of the
   * range lacks `added_snapshot_id` (attribution unknowable — never a
   * guessed increment).
   */
  def appendedFiles(
      spark: SparkSession, table: String,
      fromSnapshot: Long, toSnapshot: Long): DataFrame =
    rangeEntries(spark, table, fromSnapshot, toSnapshot, Set(1))
      .select("file_path", "content", "abs_path", "record_count",
        "file_size_bytes", "data_sequence_number", "file_format")

  /** Snapshot ids committed in `(from, to]`. The AUTHORITY is the
    * spec's parent-snapshot-id ancestry chain, walked to → from: it
    * resolves same-millisecond commits and excludes retained
    * NON-ancestors (a rolled-back or branch snapshot whose timestamp
    * falls inside the window must not attribute entries). Wall-clock
    * ordering is only the fallback when NO snapshot carries a parent
    * pointer (old writers) — and there a shared millisecond refuses,
    * because timestamp lineage with a tie is a guess. Refuses when
    * either snapshot is unknown, the range is empty, or `from` is not
    * an ancestor of `to`. */
  private[meta] def inRangeSnapshotIds(
      info: IcebergTableInfo, table: String,
      fromSnapshot: Long, toSnapshot: Long): Set[Long] = {
    def snap(id: Long) = info.snapshots.find(_.snapshotId == id).getOrElse(
      throw new IllegalArgumentException(
        s"$table: no snapshot $id (surviving: " +
          s"${info.snapshots.map(_.snapshotId).mkString(", ")})"))
    val from = snap(fromSnapshot)
    val to = snap(toSnapshot)
    if (fromSnapshot == toSnapshot) {
      throw new IllegalArgumentException(
        s"$table: snapshot $fromSnapshot equals $toSnapshot — an empty " +
          "range has no increment")
    }
    if (info.snapshots.exists(_.parentSnapshotId.isDefined)) {
      val byId = info.snapshots.map(s => s.snapshotId -> s).toMap
      val walked = scala.collection.mutable.Set.empty[Long]
      var cur = to
      while (cur.snapshotId != fromSnapshot) {
        walked += cur.snapshotId
        cur = cur.parentSnapshotId match {
          case None =>
            throw new IllegalArgumentException(
              s"$table: snapshot $fromSnapshot is not an ancestor of " +
                s"$toSnapshot (the parent chain ends at " +
                s"${cur.snapshotId}) — the range has no lineage, " +
                "refusing rather than guessing an increment")
          case Some(p) => byId.getOrElse(p,
            throw new IllegalArgumentException(
              s"$table: snapshot ${cur.snapshotId} names parent $p " +
                "which the metadata no longer lists (expired " +
                "mid-chain) — lineage is broken, refusing"))
        }
      }
      walked.toSet
    } else {
      info.snapshots.groupBy(_.timestampMs).find(_._2.size > 1).foreach {
        case (ts, snaps) =>
          throw new UnsupportedOperationException(
            s"$table: snapshots ${snaps.map(_.snapshotId).mkString(", ")} " +
              s"share timestamp-ms $ts — no parent-snapshot-id lineage " +
              "exists and the timestamp lineage is ambiguous, refusing " +
              "an increment that could silently drop a " +
              "same-millisecond commit")
      }
      if (from.timestampMs >= to.timestampMs) {
        throw new IllegalArgumentException(
          s"$table: snapshot $fromSnapshot (${from.timestampMs}) is not " +
            s"strictly before $toSnapshot (${to.timestampMs}) — an " +
            "empty or reversed range has no increment")
      }
      info.snapshots
        .filter(s => s.timestampMs > from.timestampMs &&
          s.timestampMs <= to.timestampMs)
        .map(_.snapshotId).toSet
    }
  }

  /** [[appendedFiles]] generalized over entry STATUS — also exposes
    * each entry's status and attributed snapshot id, so the changelog
    * can see the range's `status=2` removals (a copy-on-write DELETE/
    * OVERWRITE records whole-file removals that ARE row changes). */
  private[meta] def rangeEntries(
      spark: SparkSession, table: String,
      fromSnapshot: Long, toSnapshot: Long,
      statuses: Set[Int]): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val info = readTableMetadata(
      currentMetadataFile(root.getFileSystem(hconf), root), hconf)
    requireCensusableVersion(info, table)
    val to = info.snapshots.find(_.snapshotId == toSnapshot).getOrElse(
      throw new IllegalArgumentException(
        s"$table: no snapshot $toSnapshot (surviving: " +
          s"${info.snapshots.map(_.snapshotId).mkString(", ")})"))
    val inRange: Set[Long] =
      inRangeSnapshotIds(info, table, fromSnapshot, toSnapshot)
    val manifests = readManifestList(resolve(root, to.manifestList), hconf)
    manifests.foreach { m =>
      if (m.addedSnapshotId.isEmpty) {
        throw new UnsupportedOperationException(
          s"$table: manifest ${m.manifestPath} carries no " +
            "added_snapshot_id — increment attribution is unknowable, " +
            "refusing rather than guessing")
      }
    }
    // a manifest ADDED in range may still carry entries committed
    // earlier (compaction rewrites merge manifests): the entry's own
    // snapshot_id wins when present, the manifest attribution is the
    // inheritance fallback — so only manifests attributed in-range
    // need opening at all
    val wanted = manifests
      .filter(m => m.addedSnapshotId.exists(inRange.contains))
      .map(m => (resolve(root, m.manifestPath).toString,
        m.sequenceNumber, m.addedSnapshotId.get))
    import spark.implicits._
    val rootStr = root.toString
    val conf = new SerializableHadoopConf(hconf)
    val inRangeB = inRange // serializable copy for the closure
    val statusesB = statuses
    wanted.toDS()
      .flatMap { case (mp, mlSeq, mlSnap) =>
        readManifest(new Path(mp), conf.value)
          .filter { e =>
            // a manifest REWRITE (delete-manifest compaction) turns
            // ADDED entries into EXISTING ones carrying their original
            // snapshot_id — they still mean "appended by that
            // snapshot", so EXISTING counts as an append when its OWN
            // id is in range. Inheritance from the manifest only ever
            // applies to ADDED (spec) — the one legacy exception kept
            // from r15 is DELETED-with-null, which inherits the
            // deleting manifest's id; a null-id EXISTING entry
            // attributes to nothing (inheriting would misattribute
            // the rewrite itself).
            val attributed: Option[Long] =
              if (e.status == 1) Some(e.snapshotId.getOrElse(mlSnap))
              else if (e.status == 2) Some(e.snapshotId.getOrElse(mlSnap))
              else e.snapshotId
            val effStatus = if (e.status == 0) 1 else e.status
            statusesB.contains(effStatus) &&
              attributed.exists(inRangeB.contains)
          }
          .map(e => (e.filePath, e.content,
            resolve(new Path(rootStr), e.filePath).toString,
            e.recordCount, e.fileSizeBytes,
            // ADDED entries inherit the manifest's sequence number;
            // a DELETED entry must carry its own (spec r134)
            e.sequenceNumber.orElse(if (e.status == 1) mlSeq else None),
            e.fileFormat, if (e.status == 0) 1 else e.status,
            e.snapshotId.getOrElse(mlSnap),
            e.referencedDataFile, e.contentOffset, e.contentSizeInBytes))
      }
      .toDF("file_path", "content", "abs_path", "record_count",
        "file_size_bytes", "data_sequence_number", "file_format",
        "status", "snapshot_id", "referenced_data_file",
        "content_offset", "content_size")
  }

  /**
   * INCREMENTAL CHANGELOG at row level — the CDF sibling of
   * [[appendedFiles]]: the rows the snapshots in `(from, to]` changed.
   * `insert` rows are the appended DATA files' own contents; `delete`
   * rows come from TWO shapes — the rows the appended POSITION-delete
   * files remove (resolved by reading exactly the referenced target
   * files and semi-joining `(path, pos)` against
   * `_metadata.row_index`) and the full contents of DATA files the
   * range REMOVED (`status=2`, the copy-on-write DELETE/OVERWRITE
   * shape — dropping them would silently resurrect every row of a
   * whole-file delete). Emits the data columns plus `_change_type`.
   * Entries of `replace` snapshots are skipped entirely — a compaction
   * rewrite changes no logical rows, exactly as Iceberg's own
   * incremental changelog scan skips REPLACE operations. Appended
   * EQUALITY deletes RESOLVE row-wise (r16) through the shared
   * tagged-scan machinery ([[eqMatchedRows]] scoped to the appended
   * delete files against `to`'s file state — sequence and partition
   * scoping included), minus rows pre-existing deletes had already
   * killed (every delete at `to` outside the appended set was
   * committed at or before `from`, by lineage construction). Appended
   * v3 Puffin DELETION VECTORS resolve row-wise too (r16): the feed
   * emits the referenced file's rows at positions(new vector) minus
   * positions(old superseded vector) — the supersession pair being an
   * in-range status=2 DV removal for the same referenced file;
   * decoding runs executor-side through [[PuffinCodec]]. Other
   * non-parquet files refuse. A removed DELETE file
   * outside a
   * replace snapshot refuses too (its suppressed rows logically
   * RESURRECT — unrepresentable at file granularity), as does a
   * removed data file that a live position-delete file references or
   * that coexists with any equality delete (some of its rows were
   * already dead, so whole-file delete rows would over-report).
   * TRANSIENT files resolve (r17): a DATA file added AND removed
   * strictly inside the range emits its insert+delete pair — the add
   * evidence, absent from `to`'s list, is recovered from the
   * intermediate snapshots' own manifest lists (one list read per
   * in-range snapshot, paid only on multi-snapshot ranges), exactly
   * as Iceberg's own per-snapshot incremental changelog sees it.
   * Driver boundaries: the range-entry classification and the
   * referenced-target path lists (both manifest-entry-sized, the
   * MetaPrune idiom).
   */
  def changelogScan(
      spark: SparkSession, table: String,
      fromSnapshot: Long, toSnapshot: Long): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val info = readTableMetadata(
      currentMetadataFile(root.getFileSystem(hconf), root), hconf)
    val opById = info.snapshots.map(s => s.snapshotId -> s.operation).toMap
    val entriesAll = rangeEntries(spark, table, fromSnapshot, toSnapshot,
      Set(1, 2))
      .select(col("abs_path"), col("content"), col("file_format"),
        col("status"), col("snapshot_id"), col("referenced_data_file"),
        col("content_offset"), col("content_size"), col("record_count"))
      .collect()
    // a transient add needs an in-range DATA-file removal somewhere —
    // checked BEFORE the replace filter (a replace snapshot's removal
    // can be the vanishing leg); append-only ranges skip the O(k)
    // intermediate-list walk entirely (r17 ADVICE)
    val hasInRangeDataRemoval =
      entriesAll.exists(r => r.getInt(3) == 2 && r.getInt(1) == 0)
    // replace snapshots rewrite files without changing logical rows
    val entries = entriesAll
      .filterNot(r => opById.get(r.getLong(4)).flatten.contains("replace"))
    val rootStr0 = root.toString
    // a v3 Puffin deletion vector: content=1, a referenced data file
    // and a blob span — resolvable to exact positions by PuffinCodec
    def isDvEntry(r: org.apache.spark.sql.Row): Boolean =
      r.getInt(1) == 1 && r.getString(2) != null &&
        r.getString(2).equalsIgnoreCase("puffin") &&
        !r.isNullAt(5) && !r.isNullAt(6) && !r.isNullAt(7)
    // (puffin abs path, referenced data abs path, offset, size, card)
    def dvOf(r: org.apache.spark.sql.Row):
        (String, String, Long, Long, Long) =
      (r.getString(0),
        resolve(new Path(rootStr0), r.getString(5)).toString,
        r.getLong(6), r.getLong(7), r.getLong(8))
    val appended = entries.filter(_.getInt(3) == 1)
    appended.foreach { r =>
      val fmt = r.getString(2)
      if (!isDvEntry(r) &&
          (fmt == null || !fmt.equalsIgnoreCase("parquet"))) {
        throw new UnsupportedOperationException(
          s"$table: appended file ${r.getString(0)} is " +
            s"${String.valueOf(fmt)} — only parquet appends and " +
            "well-formed Puffin deletion vectors resolve to changelog " +
            "rows, refusing a partial feed")
      }
    }
    val dvAppendsAll = appended.filter(isDvEntry).map(dvOf).toSeq
    val removed = entries.filter(_.getInt(3) == 2)
    val removedDvsAll = removed.filter(isDvEntry).map(dvOf).toSeq
    def dvKey(dv: (String, String, Long, Long, Long)) =
      (dv._1, dv._3, dv._4)
    // the FINAL vector per file: an appended vector that is itself
    // removed in-range was superseded mid-range and is not final
    val removedKeys = removedDvsAll.map(dvKey).toSet
    val dvAppends = dvAppendsAll.filterNot(dv =>
      removedKeys.contains(dvKey(dv)))
    dvAppends.groupBy(_._2).foreach { case (ref, dvs) =>
      if (dvs.size > 1) {
        throw new UnsupportedOperationException(
          s"$table: the range ends with ${dvs.size} deletion vectors " +
            s"for $ref — the spec allows at most one live DV per data " +
            "file, refusing an ambiguous resolution")
      }
    }
    val dvAppendRefs = dvAppends.map(_._2).toSet
    // split removed vectors by whether they were LIVE AT from (read
    // from's own manifest list — a from-state-file-list driver
    // boundary, only paid when DV removals exist): a from-live
    // vector's kills were already dead and SUBTRACT; a mid-range
    // vector (added then superseded inside the range, or invisible in
    // to's list) must be CONTAINED in the final vector (verified at
    // decode) and never subtracts. Either way the ref needs a final
    // vector, or its suppressed rows resurrect — refused below.
    val fromDvKeys: Set[(String, Long, Long)] =
      if (removedDvsAll.isEmpty) Set.empty
      else {
        val fromSnap = info.snapshots.find(_.snapshotId == fromSnapshot).get
        filesFromManifestList(spark, root, fromSnap.manifestList)
          .filter(col("status") =!= 2 && col("content") === 1 &&
            upper(col("file_format")) === "PUFFIN")
          .select("abs_path", "content_offset", "content_size")
          .collect()
          .filter(r => !r.isNullAt(1) && !r.isNullAt(2))
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      }
    val removedDvs = removedDvsAll
      .filter(dv => fromDvKeys.contains(dvKey(dv)))
      .filter(dv => dvAppendRefs.contains(dv._2))
    val cancelledDvs = removedDvsAll
      .filterNot(dv => fromDvKeys.contains(dvKey(dv)))
      .filter(dv => dvAppendRefs.contains(dv._2))
    val removedDvPuffins = removedDvsAll
      .filter(dv => dvAppendRefs.contains(dv._2)).map(dvKey).toSet
    removed.foreach { r =>
      if (r.getInt(1) != 0 &&
          !(isDvEntry(r) && removedDvPuffins.contains(
            (r.getString(0), r.getLong(6), r.getLong(7))))) {
        throw new UnsupportedOperationException(
          s"$table: the range REMOVED a delete file " +
            s"(${r.getString(0)}, content=${r.getInt(1)}) outside a " +
            "replace snapshot with no superseding deletion vector — " +
            "the rows it suppressed logically resurrect, which a " +
            "changelog cannot represent; refusing")
      }
      val fmt = r.getString(2)
      if (r.getInt(1) == 0 &&
          (fmt == null || !fmt.equalsIgnoreCase("parquet"))) {
        throw new UnsupportedOperationException(
          s"$table: removed file ${r.getString(0)} is " +
            s"${String.valueOf(fmt)} — only parquet removals resolve " +
            "to changelog rows, refusing a partial feed")
      }
    }
    val removedPaths = removed.filter(_.getInt(1) == 0)
      .map(_.getString(0)).distinct.toSeq
    dvAppends.find(dv => removedPaths.contains(dv._2)).foreach { dv =>
      throw new UnsupportedOperationException(
        s"$table: the range appends a deletion vector for ${dv._2} " +
          "AND removes that file — the two delete shapes would " +
          "double-report its rows, refusing")
    }
    val insertPaths = appended.filter(_.getInt(1) == 0)
      .map(_.getString(0)).distinct.toSeq
    // TRANSIENT-file correctness: a data file added AND removed
    // strictly inside the range leaves no add evidence in `to`'s
    // manifest list (its status=2 entry carries the REMOVING
    // snapshot's id), so the single-list walk above reports its
    // removal only — but the add evidence DOES survive in the
    // INTERMEDIATE snapshots' own per-snapshot-complete lists. Walk
    // them (one manifest-list read per in-range snapshot before `to`,
    // paid only on multi-snapshot ranges) and emit the vanished adds'
    // insert rows too, exactly as Iceberg's own incremental changelog
    // emits the insert+delete pair. A vanished add whose removal was
    // a REPLACE snapshot gets an insert with no delete leg — the
    // compaction moved its rows, it removed none.
    val interSnapIds =
      inRangeSnapshotIds(info, table, fromSnapshot, toSnapshot) - toSnapshot
    val vanishedAdds: Seq[String] =
      if (interSnapIds.isEmpty || !hasInRangeDataRemoval) Seq.empty
      else {
        val visible = insertPaths.toSet
        interSnapIds.toSeq.sorted.flatMap { sid =>
          rangeEntries(spark, table, fromSnapshot, sid, Set(1))
            .select(col("abs_path"), col("content"), col("file_format"),
              col("snapshot_id"))
            .collect()
            .filterNot(r =>
              opById.get(r.getLong(3)).flatten.contains("replace"))
            .filter(r => r.getInt(1) == 0)
            .map { r =>
              val fmt = r.getString(2)
              if (fmt == null || !fmt.equalsIgnoreCase("parquet")) {
                throw new UnsupportedOperationException(
                  s"$table: mid-range appended file ${r.getString(0)} " +
                    s"is ${String.valueOf(fmt)} — only parquet appends " +
                    "resolve to changelog rows, refusing a partial feed")
              }
              r.getString(0)
            }
        }.distinct.filterNot(visible)
      }
    val deletePaths = appended
      .filter(r => r.getInt(1) == 1 && !isDvEntry(r)) // DVs have a leg
      .map(_.getString(0)).distinct.toSeq
    val eqDeletePaths = appended.filter(_.getInt(1) == 2)
      .map(_.getString(0)).distinct.toSeq
    lazy val allAtTo = {
      val toSnap = info.snapshots.find(_.snapshotId == toSnapshot).get
      filesFromManifestList(spark, root, toSnap.manifestList)
    }
    val rootStr = root.toString
    val scheme = rootStr.substring(0,
      math.max(0, rootStr.indexOf(":/") + 1))
    def resolved(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(c.contains(":/"), c)
        .when(c.startsWith("/"), concat(lit(scheme), c))
        .otherwise(concat(lit(rootStr + "/"), c))
    if (removedPaths.nonEmpty) {
      // a removed file some of whose rows were ALREADY dead must not
      // emit its whole contents as deletes: check every delete file
      // in to's manifest list (manifest-entry-sized driver boundary)
      if (allAtTo.filter(col("content") === 2).limit(1).count() > 0) {
        throw new UnsupportedOperationException(
          s"$table: the range removes data files while EQUALITY " +
            "delete files exist — whether their keys matched the " +
            "removed files' rows resolves only through a data scan, " +
            "so whole-file delete rows could over-report; refusing")
      }
      val posDeleteEntries = allAtTo
        .filter(col("content") === 1 && col("status") =!= 2)
        .select("abs_path", "file_format").distinct()
        .collect().map(r => (r.getString(0), r.getString(1)))
      posDeleteEntries.find(e =>
        e._2 == null || !e._2.equalsIgnoreCase("parquet")).foreach { e =>
        throw new UnsupportedOperationException(
          s"$table: position-delete file ${e._1} is " +
            s"${String.valueOf(e._2)} — cannot verify it does not " +
            "reference the range's removed data files, refusing")
      }
      val posDeleteFiles = posDeleteEntries.map(_._1).toSeq
      if (posDeleteFiles.nonEmpty) {
        val referenced = spark.read.parquet(posDeleteFiles: _*)
          .select(resolved(col("file_path")).as("p")).distinct()
          .filter(col("p").isin(removedPaths: _*))
          .limit(1).collect()
        referenced.headOption.foreach { hit =>
          throw new UnsupportedOperationException(
            s"$table: removed data file ${hit.getString(0)} is " +
              "referenced by a live position-delete file — some of " +
              "its rows were already dead, so emitting the whole " +
              "file as delete rows would over-report; refusing")
        }
      }
    }
    val allInsertPaths = insertPaths ++ vanishedAdds
    val inserts =
      if (allInsertPaths.isEmpty) None
      else Some(spark.read.parquet(allInsertPaths: _*)
        .withColumn("_change_type", lit("insert")))
    // position-delete pairs: the appended position-delete files' own
    // (path, pos) rows
    val posPairs =
      if (deletePaths.isEmpty) None
      else Some(spark.read.parquet(deletePaths: _*)
        .select(resolved(col("file_path")).as("p"),
          col("pos").cast("long").as("pos")))
    // equality-delete pairs: the appended equality deletes RESOLVED to
    // (path, pos) through the shared tagged-scan machinery, scoped to
    // to's file state — minus rows that were ALREADY dead before the
    // range (pre-existing position or equality deletes at to were all
    // committed at or before from, by lineage construction)
    val eqPairs =
      if (eqDeletePaths.isEmpty) None
      else {
        val newKills = eqMatchedRows(spark, table, requireLive = false,
          atSnapshot = Some(toSnapshot),
          onlyDeletePaths = Some(eqDeletePaths.toSet))
          .select(col("data_path").as("p"), col("pos"))
          .dropDuplicates("p", "pos")
        val preDeletes = allAtTo
          .filter(col("content") =!= 0 && col("status") =!= 2)
          .select(col("abs_path"), col("content"), col("file_format"))
          .collect()
          .filter(r => !eqDeletePaths.contains(r.getString(0)) &&
            !deletePaths.contains(r.getString(0)))
        preDeletes.find(r => r.getString(2) == null ||
            !r.getString(2).equalsIgnoreCase("parquet")).foreach { r =>
          throw new UnsupportedOperationException(
            s"$table: pre-existing delete file ${r.getString(0)} is " +
              s"${String.valueOf(r.getString(2))} — cannot subtract its " +
              "already-dead rows from the equality resolution, refusing")
        }
        val prePosPaths = preDeletes.filter(_.getInt(1) == 1)
          .map(_.getString(0)).distinct.toSeq
        val preEqPaths = preDeletes.filter(_.getInt(1) == 2)
          .map(_.getString(0)).distinct.toSeq
        val oldKills = Seq(
          if (prePosPaths.isEmpty) None
          else Some(spark.read.parquet(prePosPaths: _*)
            .select(resolved(col("file_path")).as("p"),
              col("pos").cast("long").as("pos"))),
          if (preEqPaths.isEmpty) None
          else Some(eqMatchedRows(spark, table, requireLive = false,
            atSnapshot = Some(toSnapshot),
            onlyDeletePaths = Some(preEqPaths.toSet))
            .select(col("data_path").as("p"), col("pos")))
        ).flatten.reduceOption(_ unionByName _)
        Some(oldKills match {
          case Some(dead) => newKills.join(dead, Seq("p", "pos"),
            "left_anti")
          case None => newKills
        })
      }
    // appended Puffin DV pairs: positions(new) \ positions(old
    // superseded vector, empty when none), decoded EXECUTOR-side by
    // PuffinCodec (one task per vector); an old vector marking a
    // position the new one drops UN-deletes a row — refused
    val dvPairs =
      if (dvAppends.isEmpty) None
      else {
        import spark.implicits._
        val oldByRef = removedDvs
          .map(dv => dv._2 -> ((dv._1, dv._3, dv._4, dv._5))).toMap
        val cancelledByRef = cancelledDvs
          .groupBy(_._2)
          .view.mapValues(_.map(dv => (dv._1, dv._3, dv._4, dv._5)))
          .toMap
        val sconf = new SerializableHadoopConf(
          spark.sessionState.newHadoopConf())
        Some(dvAppends.map { case (pf, ref, off, size, card) =>
          (pf, ref, off, size, card, oldByRef.get(ref),
            cancelledByRef.getOrElse(ref,
              Seq.empty[(String, Long, Long, Long)]))
        }.toDS().flatMap {
          case (pf, ref, off, size, card, oldDv, cancelled) =>
            def decode(p: String, o: Long, s: Long, c: Long): Array[Long] = {
              val pos = PuffinCodec.readDvBlob(
                new Path(p), sconf.value, o, s)
              if (pos.length != c) {
                throw new IllegalArgumentException(
                  s"$p: deletion vector for $ref decodes ${pos.length} " +
                    s"positions but its manifest entry claims $c — " +
                    "refusing to miscount")
              }
              pos
            }
            val newPos = decode(pf, off, size, card)
            val newSet = newPos.toSet
            // a mid-range superseded (cancelled) vector's kills must
            // ride the final one — otherwise rows it deleted resurrect
            cancelled.foreach { case (cp, co, cs, cc) =>
              val lost = decode(cp, co, cs, cc).filterNot(newSet)
              if (lost.nonEmpty) {
                throw new UnsupportedOperationException(
                  s"$ref: a mid-range superseded deletion vector marks " +
                    s"positions ${lost.take(5).mkString(", ")}… the " +
                    "final vector drops — resurrected rows have no " +
                    "changelog representation, refusing")
              }
            }
            val oldPos = oldDv.map { case (op, oo, os, oc) =>
              decode(op, oo, os, oc)
            }.getOrElse(Array.empty[Long])
            val resurrected = oldPos.filterNot(newSet)
            if (resurrected.nonEmpty) {
              throw new UnsupportedOperationException(
                s"$ref: the range's new deletion vector UN-deletes " +
                  s"positions ${resurrected.take(5).mkString(", ")}… — " +
                  "resurrected rows have no changelog representation, " +
                  "refusing")
            }
            val oldSet = oldPos.toSet
            newPos.filterNot(oldSet).map(pos => (ref, pos))
        }.toDF("p", "pos"))
      }
    val deletes = (posPairs.toSeq ++ eqPairs.toSeq ++ dvPairs.toSeq)
      .reduceOption(_ unionByName _)
      .map { pairs =>
        // referenced targets: a path list at delete-entry scale
        val targets = pairs.select("p").distinct()
          .collect().map(_.getString(0)).toSeq
        val targetRows = spark.read.parquet(targets: _*)
        val dataCols = targetRows.columns.toSeq
        targetRows
          .withColumn("p", col("_metadata.file_path"))
          .withColumn("pos", col("_metadata.row_index"))
          .join(pairs, Seq("p", "pos"), "left_semi")
          .select(dataCols.map(col): _*)
          .withColumn("_change_type", lit("delete"))
      }
    val removedRows =
      if (removedPaths.isEmpty) None
      else Some(spark.read.parquet(removedPaths: _*)
        .withColumn("_change_type", lit("delete")))
    (inserts.toSeq ++ deletes.toSeq ++ removedRows.toSeq)
      .reduceOption(_ unionByName _)
      .getOrElse(throw new EmptyChangelogException(
        s"$table: snapshots ($fromSnapshot, $toSnapshot] appended or " +
          "removed no files — the range carries no changelog"))
  }

  /**
   * STREAMING current-snapshot store maintenance — the iceberg sibling
   * of the delta tier's live store: one `Trigger.AvailableNow` pass of
   * the metadata stream; each micro-batch that carries NEW metadata
   * versions refreshes the store from the NEWEST one's current
   * snapshot (iceberg manifest lists are per-snapshot complete, so a
   * refresh — not a merge — is the correct maintenance step; batches
   * with no new metadata touch nothing). Checkpointed: already-seen
   * metadata files never re-trigger a refresh. Live view:
   * [[readCurrentStore]].
   */
  def maintainCurrentStore(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String): Unit = {
    val root = {
      val hconf = spark.sessionState.newHadoopConf()
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    StoreIO.maintain(spark, table, "iceberg", "snapshot",
        Seq("filename", "manifest_list", "is_current"), storeDir,
        checkpointDir) { (rows, store) =>
      val newest = rows.maxBy(r => (metadataVersion(r.getString(0)),
        r.getString(0)))
      rows.filter(r => r.getString(0) == newest.getString(0) &&
        r.getBoolean(2)).map(_.getString(1)).headOption.foreach { ml =>
        // same v3 refusal as the batch census path: the store must
        // never be refreshed from a snapshot it would miscount
        requireCensusableVersion(
          readTableMetadata(new Path(new Path(root, "metadata"),
            newest.getString(0)), spark.sessionState.newHadoopConf()),
          table)
        StoreIO.publishStore(filesFromManifestList(spark, root, ml), store)
      }
    }
  }

  /** The current-snapshot rows of a [[maintainCurrentStore]] store. */
  def readCurrentStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir)

  /**
   * STREAMING INCREMENTAL-INGEST store — the streaming twin of
   * [[appendedFiles]]: one `Trigger.AvailableNow` pass of the metadata
   * stream; the FIRST current snapshot seen lands as the BASELINE
   * increment (its full live file set — an ingester starting mid-life
   * must bootstrap from somewhere), and each later batch that carries
   * a NEW current snapshot appends exactly
   * `appendedFiles(prevSeen, new)` as its own increment. Increments
   * are parquet subdirs keyed `inc_<timestamp>_<snapshot>` — re-running
   * a snapshot's increment overwrites its own subdir (idempotent), and
   * already-seen metadata files never re-trigger (checkpointed). An
   * ingester tails [[readAppendsStore]] and touches each arriving file
   * once — no re-listing, no re-diffing.
   */
  def maintainAppendsStore(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String): Unit =
    maintainSnapshotIncrements(spark, table, storeDir, checkpointDir) {
      (store, curSnap, curTs, _, prevSnap) =>
        val inc = prevSnap match {
          case None =>
            // bootstrap: the first seen snapshot's live set IS the
            // first increment
            filesAt(spark, table, Some(curSnap))
              .filter(col("status") =!= 2)
              .select(col("file_path"), col("content"),
                col("abs_path"), col("record_count"),
                col("file_size_bytes"), col("data_sequence_number"),
                col("file_format"))
          case Some(prev) =>
            appendedFiles(spark, table, prev, curSnap)
        }
        StoreIO.publishIncrement(
          inc.withColumn("snapshot_id", lit(curSnap)),
          store, s"inc_${curTs}_$curSnap")
    }

  /** The appends and changelog stores' shared step. Each non-empty
    * batch takes the NEWEST metadata file's current snapshot; when the
    * store holds no increment for it and its commit time is not older
    * than the last increment's, `land(store, snapshot, timestamp,
    * seenSnapshots, lastSnapshot)` publishes it. Increments are keyed
    * `inc_<timestamp>_<snapshot>`: snapshot ids are opaque, timestamps
    * order the lineage, and only COMPLETED (renamed-into-place)
    * increments count. A same-millisecond NEW snapshot is not skipped —
    * it reaches `land`, whose ambiguity refusals fail the batch. */
  private def maintainSnapshotIncrements(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String)(
      land: (java.io.File, Long, Long, Set[Long], Option[Long]) => Unit)
      : Unit =
    StoreIO.maintain(spark, table, "iceberg", "snapshot",
        Seq("filename", "snapshot_id", "timestamp_ms", "is_current"),
        storeDir, checkpointDir) { (rows, store) =>
      val newestFile = rows.map(_.getString(0))
        .maxBy(n => (metadataVersion(n), n))
      rows.filter(r => r.getString(0) == newestFile && r.getBoolean(3))
        .headOption.foreach { cur =>
          val curSnap = cur.getLong(1)
          val curTs = cur.getLong(2)
          val seen = StoreIO.parsePairs(store, "inc")
          val prev = seen.sortBy(_._1).lastOption
          val seenSnaps = seen.map(_._2).toSet
          if (!seenSnaps.contains(curSnap) && !prev.exists(_._1 > curTs)) {
            land(store, curSnap, curTs, seenSnaps, prev.map(_._2))
          }
        }
    }

  /** Every increment row of a [[maintainAppendsStore]] store. */
  def readAppendsStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir + "/inc_*")

  /**
   * STREAMING ROW-LEVEL CHANGELOG store — the streaming twin of
   * [[changelogScan]] (and the iceberg mirror of
   * [[DeltaMeta.maintainChangeFeedStore]]): one `Trigger.AvailableNow`
   * pass of the metadata stream; the FIRST current snapshot seen
   * lands its NET live rows as the bootstrap insert increment (a
   * row-level consumer starting mid-life must materialize the state
   * once — that read is the table, by definition), and each later
   * batch walks the snapshot chain from the last landed snapshot and
   * lands ONE `changelogScan` increment PER SNAPSHOT, each stamped
   * with its own id (r17: a batch that jumps several snapshots never
   * attributes earlier snapshots' changes to the final one; a
   * replace-only snapshot lands nothing and the walk advances past
   * it). Increments publish via temp-dir + rename
   * ([[StoreIO.publishIncrement]]) so a crash mid-write never leaves
   * an `inc_<ts>_<snapshot>` name claiming rows it does not hold, and
   * a crashed multi-snapshot walk resumes from the last PUBLISHED
   * snapshot on redelivery. Bootstrap refuses when the first snapshot
   * carries live DELETE files — materializing inserts that ignored
   * them would resurrect rows; every [[changelogScan]] refusal
   * likewise fails the batch loudly.
   */
  def maintainChangelogStore(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String): Unit =
    maintainSnapshotIncrements(spark, table, storeDir, checkpointDir) {
      (store, curSnap, curTs, seenSnaps, prevSnap) =>
        prevSnap match {
          case None =>
            val files = filesAt(spark, table, Some(curSnap))
              .filter(col("status") =!= 2)
            if (files.filter(col("content") =!= 0).limit(1).count() > 0) {
              throw new UnsupportedOperationException(
                s"$table: the bootstrap snapshot $curSnap " +
                  "carries live delete files — materializing " +
                  "its rows as plain inserts would resurrect " +
                  "deleted rows; bootstrap from a compacted " +
                  "snapshot instead")
            }
            val paths = files.select(col("abs_path"))
              .collect().map(_.getString(0)).toSeq
            if (paths.isEmpty) {
              throw new IllegalArgumentException(
                s"$table: bootstrap snapshot $curSnap has no " +
                  "live data files — nothing to materialize")
            }
            StoreIO.publishIncrement(
              spark.read.parquet(paths: _*)
                .withColumn("_change_type", lit("insert"))
                .withColumn("snapshot_id", lit(curSnap)),
              store, s"inc_${curTs}_$curSnap")
          case Some(prev) =>
            // PER-SNAPSHOT attribution: a micro-batch that jumps several
            // snapshots (cold start, lagging consumer) lands ONE
            // increment per intermediate snapshot, each stamped with ITS
            // OWN id — never attributing earlier snapshots' changes to
            // the final one. Order is the parent-chain walk (timestamp
            // sort is the no-parents fallback; a wrong fallback order
            // makes changelogScan refuse loudly, never misattribute).
            // The walk stays sequential: its resume point is the last
            // PUBLISHED snapshot.
            val hconf = spark.sessionState.newHadoopConf()
            val root = {
              val p = new Path(table)
              p.getFileSystem(hconf).makeQualified(p)
            }
            val info = readTableMetadata(
              currentMetadataFile(root.getFileSystem(hconf), root), hconf)
            val ids = inRangeSnapshotIds(info, table, prev, curSnap)
            val byId = info.snapshots.map(s => s.snapshotId -> s).toMap
            val ordered: Seq[Long] =
              if (info.snapshots.exists(_.parentSnapshotId.isDefined)) {
                val buf = scala.collection.mutable.ArrayBuffer.empty[Long]
                var c = curSnap
                while (c != prev) {
                  buf += c
                  c = byId(c).parentSnapshotId.getOrElse(
                    throw new IllegalStateException(
                      s"$table: snapshot $c lost its parent " +
                        "between range validation and the walk"))
                }
                buf.reverse.toSeq
              } else {
                ids.toSeq.sortBy(id => (byId(id).timestampMs, id))
              }
            ordered.foldLeft(prev) { (p0, sid) =>
              // idempotent redelivery: an increment a crashed pass
              // already published is skipped, the walk continues from it
              if (!seenSnaps.contains(sid)) {
                try StoreIO.publishIncrement(
                  changelogScan(spark, table, p0, sid)
                    .withColumn("snapshot_id", lit(sid)),
                  store, s"inc_${byId(sid).timestampMs}_$sid")
                catch {
                  // a snapshot that changed no logical rows (replace-only)
                  // has no increment to land — the walk advances past
                  // it; matched by TYPE, never by message text
                  case _: EmptyChangelogException => ()
                }
              }
              sid
            }
            ()
        }
    }

  /** Every change row of a [[maintainChangelogStore]] store. */
  def readChangelogStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir + "/inc_*")

  /**
   * TIMESTAMP AS OF resolution: the snapshot with the latest
   * `timestamp-ms` at or before `tsMs` (iceberg snapshots carry their
   * commit time in the table metadata — resolution is one small JSON
   * read). Refuses a timestamp before the first listed snapshot.
   */
  def snapshotIdAt(spark: SparkSession, table: String, tsMs: Long): Long = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(hconf).makeQualified(p)
    }
    val info = readTableMetadata(
      currentMetadataFile(root.getFileSystem(hconf), root), hconf)
    val eligible = info.snapshots.filter(_.timestampMs <= tsMs)
    if (eligible.isEmpty) {
      throw new IllegalArgumentException(
        s"$table: timestamp $tsMs is before the first listed snapshot")
    }
    eligible.maxBy(s => (s.timestampMs, s.snapshotId)).snapshotId
  }

  /** [[filesAt]] resolved by TIMESTAMP (see [[snapshotIdAt]]). */
  def filesAtTime(spark: SparkSession, table: String, tsMs: Long): DataFrame =
    filesAt(spark, table, Some(snapshotIdAt(spark, table, tsMs)))

  /**
   * ORPHAN-file report — iceberg's `remove_orphan_files` question at
   * metadata cost: files under the table's data tree that NO manifest
   * of ANY snapshot still listed in the table metadata references
   * (a DELETED-status entry is still a reference — expiring it is
   * `expire_snapshots`' job, not orphan cleanup). The reference set
   * fans out one task per manifest across ALL snapshots; the disk side
   * is the one-scan `source=any` census, so non-parquet debris
   * (aborted-write temp files, foreign uploads) surfaces too. One row
   * per orphan: `(abs_path, filename, format, size, num_rows)`.
   */
  /** Spec paths are absolute URIs of the writing environment; fixture
    * and relocated tables resolve relative to the table root. */
  private[meta] def resolve(root: Path, p: String): Path = {
    val raw = new Path(p)
    if (raw.isAbsolute && p.contains("://")) raw
    else if (p.startsWith("/")) raw
    else new Path(root, p)
  }

}
