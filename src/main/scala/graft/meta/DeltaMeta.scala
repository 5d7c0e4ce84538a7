package graft.meta

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One decoded Delta log segment (a JSON commit or a checkpoint part). */
case class DeltaLogInfo(
    version: Long,
    kind: String, // "commit" | "checkpoint"
    nAdd: Option[Long],
    nRemove: Option[Long],
    hasProtocol: Boolean,
    hasMetadata: Boolean,
    operation: Option[String],
    opTimestamp: Option[Long])

/**
 * Delta Lake metadata tier — the table-format layer ABOVE the raw parquet
 * files the rest of the `meta` package audits. Everything here is decoded
 * against the PUBLIC Delta transaction-log protocol (the `_delta_log`
 * directory of 20-digit zero-padded JSON commits, parquet checkpoints,
 * and a `_last_checkpoint` pointer; each commit line carries exactly one
 * of `add`/`remove`/`metaData`/`protocol`/`commitInfo`/`txn`):
 *
 *  - the `source=delta` / `level=snapshot` datasource level lists the LOG
 *    (not the data files) and emits one row per segment, with action
 *    counts decoded per segment executor-side — JSON commits by a
 *    line-keyed parse, checkpoint parts AT FOOTER COST from the
 *    checkpoint parquet's own column statistics (non-null `add.path`
 *    entries = num_values − null_count; zero page I/O);
 *  - [[snapshotFiles]] reconstructs the LIVE file list as a declarative
 *    plan: distributed parquet read of the latest checkpoint + JSON read
 *    of the commit tail, reconciled by a map-side-combinable
 *    `max_by(action, (version, is_add))` per path — no window sort, no driver-side
 *    log replay, so a checkpoint with millions of `add` entries scales
 *    like any parquet scan;
 *  - composing [[snapshotFiles]] with the parquet file level audits only
 *    files in the CURRENT snapshot and surfaces vacuum-pending files a
 *    raw directory scan would miscount (see `meta_delta_live`).
 *
 * The reference engine stops at the raw-file layer (its source sniff is
 * parquet-vs-file only, reference:
 * src/main/scala/com/github/sadikovi/metadata/DefaultSource.scala:70-81);
 * this tier extends the same five-level model upward to the table format
 * real lakes actually serve queries from.
 */
object DeltaMeta extends DeltaMetaAudits with DeltaMetaFixtures {

  private[meta] val CommitRe = "^(\\d{20})\\.json$".r
  private[meta] val CkptRe = "^(\\d{20})\\.checkpoint(?:\\..+)?\\.parquet$".r
  // the protocol's OTHER V2-manifest form: a UUID-named ndjson of
  // actions (`<v>.checkpoint.<uuid>.json`). Left unclassified it would
  // be INVISIBLE — a table whose only checkpoint is a JSON manifest
  // would replay commits alone and, after log cleanup, reconstruct
  // from an incomplete base without refusing.
  private[meta] val CkptJsonRe = "^(\\d{20})\\.checkpoint\\.[^./]+\\.json$".r

  /** True if `root` has a `_delta_log` child directory. */
  def isDeltaTable(fs: FileSystem, root: Path): Boolean =
    try fs.getFileStatus(new Path(root, "_delta_log")).isDirectory
    catch { case _: java.io.IOException => false }

  /** Version encoded in a log segment's file name, or None for foreign
    * files (`_last_checkpoint`, `.crc` sidecars, temp files). */
  def segmentVersion(name: String): Option[(Long, String)] = name match {
    case CkptJsonRe(v) => Some(v.toLong -> "checkpoint")
    case CommitRe(v) => Some(v.toLong -> "commit")
    case CkptRe(v) => Some(v.toLong -> "checkpoint")
    case _ => None
  }

  /**
   * List the `_delta_log` segments of a Delta table as [[FileSlice]]s —
   * the delta counterpart of the generic recursive listing (which hides
   * underscore-prefixed paths, exactly so DATA scans never see the log).
   * One `listStatus` call; foreign names are dropped here so the reader
   * only ever sees decodable segments. Sorted by (version, name) so
   * multi-part checkpoints group deterministically.
   */
  def listLogSlices(root: Path, conf: Configuration): Seq[FileSlice] = {
    val fs = root.getFileSystem(conf)
    val logDir = new Path(root, "_delta_log")
    if (!isDeltaTable(fs, root)) {
      throw new IllegalArgumentException(
        s"$root is not a Delta table: no _delta_log directory")
    }
    val listed = fs.listStatus(logDir).toSeq
    // COORDINATED / CATALOG-MANAGED commits (r18, refined r19): a
    // commit coordinator ratifies commits into
    // `_delta_log/_staged_commits/` (`<version>.<uuid>.json`) and
    // backfills them into `<v>.json` later — BACKFILLED staged files
    // linger until log cleanup, so their mere presence proves nothing.
    // Refuse only a staged commit whose version EXCEEDS the highest
    // published `<v>.json` (genuinely unbackfilled — replaying only
    // the published log would read a stale or gapped table), or whose
    // name this tier cannot parse (unknown coordinator layout).
    val staged = new Path(logDir, "_staged_commits")
    if (fs.exists(staged)) {
      val stagedJson = fs.listStatus(staged).toSeq
        .filter(st => st.isFile && st.getPath.getName.endsWith(".json"))
      if (stagedJson.nonEmpty) {
        val maxPublished = listed
          .flatMap(st => segmentVersion(st.getPath.getName))
          .collect { case (v, "commit") => v }
          .foldLeft(-1L)(math.max)
        val stagedVersionRe = """^(\d+)\..*\.json$""".r
        val unbackfilled = stagedJson.flatMap { st =>
          st.getPath.getName match {
            case stagedVersionRe(v) =>
              if (v.toLong > maxPublished) Some(st.getPath.getName)
              else None
            case other => throw new UnsupportedOperationException(
              s"$root: _delta_log/_staged_commits entry '$other' does " +
                "not parse as <version>.<uuid>.json — an unknown " +
                "commit-coordinator layout this tier cannot judge " +
                "backfilled; refusing")
          }
        }
        if (unbackfilled.nonEmpty) {
          throw new UnsupportedOperationException(
            s"$root: _delta_log/_staged_commits holds " +
              s"${unbackfilled.size} ratified-but-unbackfilled " +
              s"commit(s) past published version $maxPublished (e.g. " +
              s"${unbackfilled.min}) — the coordinatedCommits/" +
              "catalogOwned table feature routes commits through a " +
              "coordinator this tier cannot consult; replaying only " +
              "the published log would read a stale or gapped table, " +
              "refusing")
        }
      }
    }
    listed
      .flatMap { st =>
        segmentVersion(st.getPath.getName).map { case (v, _) =>
          (v, FileSlice(st.getPath.toString, st.getPath.getName, st.getLen,
            st.getModificationTime, Map.empty))
        }
      }
      .sortBy { case (v, f) => (v, f.name) }
      .map(_._2)
  }

  /** Decode one log segment into its [[DeltaLogInfo]] row. */
  def readSegment(path: Path, conf: Configuration, knownSize: Option[Long] = None): DeltaLogInfo =
    segmentVersion(path.getName) match {
      case Some((v, "commit")) => readCommit(path, conf, v)
      case Some((v, "checkpoint")) => readCheckpoint(path, conf, v, knownSize)
      case _ => throw new RuntimeException(
        s"$path is not a Delta log segment (expected <version>.json or <version>.checkpoint*.parquet)")
    }

  /** JSON commit: one action object per line; count the action keys and
    * lift `commitInfo.operation`/`timestamp`. Malformed JSON refuses
    * (classified), it never yields partial counts. */
  private[meta] def readCommit(path: Path, conf: Configuration, version: Long): DeltaLogInfo = {
    val fs = path.getFileSystem(conf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val in = fs.open(path)
    try {
      val reader = new java.io.BufferedReader(
        new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
      var nAdd = 0L
      var nRemove = 0L
      var hasProtocol = false
      var hasMetadata = false
      var operation: Option[String] = None
      var opTs: Option[Long] = None
      var line = reader.readLine()
      while (line != null) {
        if (line.trim.nonEmpty) {
          val node =
            try mapper.readTree(line)
            catch {
              case e: Exception => throw new RuntimeException(
                s"$path: malformed Delta commit line: ${e.getMessage}")
            }
          if (node.has("add")) nAdd += 1
          if (node.has("remove")) nRemove += 1
          if (node.has("protocol")) hasProtocol = true
          if (node.has("metaData")) hasMetadata = true
          if (node.has("commitInfo")) {
            val ci = node.get("commitInfo")
            if (ci.has("operation")) operation = Some(ci.get("operation").asText)
            if (ci.has("timestamp")) opTs = Some(ci.get("timestamp").asLong)
          }
        }
        line = reader.readLine()
      }
      DeltaLogInfo(version, "commit", Some(nAdd), Some(nRemove),
        hasProtocol, hasMetadata, operation, opTs)
    } finally {
      in.close()
    }
  }

  /** Non-null leaf count for `leaf` from a parquet footer's own column
    * statistics: `num_values − null_count` summed over chunks. None when
    * any chunk lacks a null count (no evidence ≠ zero). The match is
    * EXACT (`Option.contains` is element equality, not a substring
    * test): a writer-specific column whose dotted path merely embeds the
    * leaf (`stats_parsed.add.path…`) never matches, so it cannot
    * double-count the action. */
  private[meta] def footerNonNull(footer: FooterInfo, leaf: String): Option[Long] = {
    val chunks = footer.chunks.filter(_.path.contains(leaf))
    if (chunks.isEmpty) return Some(0L)
    val counts = chunks.map(c => c.stats.flatMap(_.nullCount).map(c.numValues - _))
    if (counts.exists(_.isEmpty)) None else Some(counts.flatten.sum)
  }

  /** Checkpoint part: action counts AT FOOTER COST — the checkpoint is a
    * parquet file whose `add`/`remove`/... columns are null except on
    * their action's rows, so per-leaf null counts in the footer ARE the
    * action counts. Zero data-page I/O. A V2 (sidecar) MANIFEST parks
    * its file actions elsewhere: its own footer holds NO evidence of
    * them, so `n_add`/`n_remove` report null — never a confident zero
    * for counts that live in the sidecars. */
  private[meta] def readCheckpoint(
      path: Path, conf: Configuration, version: Long,
      knownSize: Option[Long]): DeltaLogInfo = {
    // the V2 JSON-manifest form: ndjson of actions, no parquet footer.
    // Like a parquet V2 manifest, its file-action counts live in the
    // sidecars it names, so n_add/n_remove report null — never a
    // confident zero; protocol/metaData presence reads from the lines.
    if (path.getName.endsWith(".json")) {
      val commitShaped = readCommit(path, conf, version)
      return DeltaLogInfo(version, "checkpoint", None, None,
        commitShaped.hasProtocol, commitShaped.hasMetadata, None, None)
    }
    val footer = Footers.read(path, conf, knownSize)
    val isV2Manifest = footer.chunks.exists(c =>
      c.path.contains("sidecar.path") ||
        c.path.contains("checkpointMetadata.version"))
    DeltaLogInfo(version, "checkpoint",
      if (isV2Manifest) None else footerNonNull(footer, "add.path"),
      if (isV2Manifest) None else footerNonNull(footer, "remove.path"),
      footerNonNull(footer, "protocol.minReaderVersion").exists(_ > 0),
      footerNonNull(footer, "metaData.id").exists(_ > 0),
      None, None)
  }

  // ---------------------------------------------------------------------
  // Snapshot reconstruction (live files)
  // ---------------------------------------------------------------------

  /** The protocol's deletion-vector descriptor (v3+ readers): a DELETE
    * without rewrite attaches one to the `add` action; `cardinality` is
    * the number of logically-deleted rows still physically present. */
  private[meta] val dvType = StructType(Seq(
    StructField("storageType", StringType),
    StructField("pathOrInlineDv", StringType),
    StructField("offset", IntegerType),
    StructField("sizeInBytes", IntegerType),
    StructField("cardinality", LongType)))

  /** The `add` struct subset the replay needs (a projection of the
    * protocol's add action; unknown writer fields are simply not read). */
  private[meta] val addType = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("modificationTime", LongType),
    StructField("dataChange", BooleanType),
    StructField("stats", StringType),
    StructField("deletionVector", dvType)))

  private[meta] val removeType = StructType(Seq(
    StructField("path", StringType),
    StructField("deletionTimestamp", LongType),
    StructField("dataChange", BooleanType)))

  private[meta] val logSchema = StructType(Seq(
    StructField("add", addType),
    StructField("remove", removeType)))

  private[meta] val sidecarType = StructType(Seq(
    StructField("path", StringType),
    StructField("sizeInBytes", LongType),
    StructField("modificationTime", LongType)))
  private[meta] val ckptMetaActionType = StructType(Seq(
    StructField("version", LongType)))

  /** The chosen checkpoint parts as ONE raw action frame: parquet parts
    * as a single parquet scan (schema from the files — consumers
    * re-project via [[ckptStruct]]); a V2 JSON manifest
    * (`<v>.checkpoint.<uuid>.json`, ndjson of actions) through the
    * pinned `wanted` schema, so absent action kinds read as typed
    * nulls. [[selectCheckpointParts]] never selects both forms at
    * once (each single-file form is complete alone). */
  private[meta] def readCheckpointRaw(
      spark: SparkSession, ckptPaths: Seq[String],
      wanted: StructType): DataFrame =
    if (ckptPaths.exists(_.endsWith(".json"))) {
      spark.read.schema(wanted).json(ckptPaths: _*)
    } else spark.read.parquet(ckptPaths: _*)

  /**
   * The LIVE file list of a Delta table as a DataFrame:
   * `(path, abs_path, version, size, mod_time, partition_values,
   * num_records, stats)` — one row per file in the current snapshot.
   *
   * Plan shape: distributed parquet scan of the latest checkpoint parts
   * (tagged with the checkpoint version) unioned with a schema-pinned
   * JSON scan of the newer commits (each tagged with its version from
   * the file name), reconciled per path by `max_by(action, (version, is_add))` —
   * an aggregate with map-side partial combine, NOT a window sort. Only
   * paths whose winning action is an `add` survive. Driver work is one
   * log listing; everything else is executors.
   */
  def snapshotFiles(spark: SparkSession, table: String): DataFrame =
    snapshotFilesAt(spark, table, None)

  /** The pinned `(add, remove)` file-action re-projection of one
    * checkpoint-shaped frame: `add`/`remove` re-built FIELD BY FIELD
    * (checkpoints carry protocol/metaData/txn columns and
    * writer-specific add fields the replay doesn't need; a struct cast
    * would demand exact arity), `deletionVector` absent-tolerant
    * (pre-v3 writers), a missing `add`/`remove` column a typed null
    * (a V2 manifest whose file actions all live in sidecars has
    * neither). */
  private[meta] def fileActionProjection(df: DataFrame): DataFrame = {
    val names = df.schema.fieldNames.toSet
    val addCol: Column =
      if (!names.contains("add")) lit(null).cast(addType)
      else {
        val addStruct = df.schema("add").dataType.asInstanceOf[StructType]
        // deletionVector appears only on protocol-v3+ writers; absent →
        // null (and each descriptor subfield is matched by name, so a
        // writer with extra fields still decodes)
        val dvCol =
          if (!addStruct.fieldNames.contains("deletionVector")) {
            lit(null).cast(dvType)
          } else {
            val sub = addStruct("deletionVector").dataType.asInstanceOf[StructType]
            def f(name: String, t: DataType): Column =
              (if (sub.fieldNames.contains(name)) {
                col(s"add.deletionVector.$name").cast(t)
              } else lit(null).cast(t)).as(name)
            when(col("add.deletionVector").isNotNull, struct(
              f("storageType", StringType),
              f("pathOrInlineDv", StringType),
              f("offset", IntegerType),
              f("sizeInBytes", IntegerType),
              f("cardinality", LongType)))
          }
        when(col("add").isNotNull, struct(
          col("add.path").as("path"),
          col("add.partitionValues").as("partitionValues"),
          col("add.size").as("size"),
          col("add.modificationTime").as("modificationTime"),
          col("add.dataChange").as("dataChange"),
          col("add.stats").as("stats"),
          dvCol.as("deletionVector")))
      }
    val removeCol: Column =
      if (!names.contains("remove")) lit(null).cast(removeType)
      else when(col("remove").isNotNull, struct(
        col("remove.path").as("path"),
        col("remove.deletionTimestamp").as("deletionTimestamp"),
        col("remove.dataChange").as("dataChange")))
    df.select(addCol.as("add"), removeCol.as("remove"))
  }

  /** The pinned `(add, remove, version)` action frame for a set of log
    * segments: JSON commits through the schema-pinned read (version from
    * the file name), checkpoint parts through the field-by-field
    * re-projection (DV-aware, V2-sidecar-following). Shared by the batch
    * replay and the streaming live-store maintenance.
    *
    * V2 (sidecar) checkpoints — protocol feature `v2Checkpoint` — park
    * their file actions in parquet parts under `_delta_log/_sidecars`; the
    * checkpoint MANIFEST carries `checkpointMetadata` + one `sidecar`
    * pointer row per part (or, sidecar-free, the file actions inline).
    * The sidecar NAMES are a bounded driver boundary (one row per
    * sidecar file); the sidecar CONTENTS stay a distributed parquet
    * scan through the same re-projection as a V1 checkpoint — a
    * checkpoint with millions of adds still scales like any parquet
    * read. A manifest with neither sidecar pointers nor inline file
    * actions is an unknown layout and refuses — no evidence, never an
    * empty live set. */
  private[meta] def decodeActions(
      spark: SparkSession, table: String,
      ckptPaths: Seq[String], ckptVersion: Long,
      tailPaths: Seq[String]): DataFrame = {
    val tail =
      if (tailPaths.isEmpty) None
      else Some(spark.read.schema(logSchema).json(tailPaths: _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long")))
    val ckpt =
      if (ckptPaths.isEmpty) None
      else {
        // a JSON manifest reads through the pinned schema (its `top`
        // then always carries the V2 columns, which is correct: the
        // form IS a V2 manifest by name)
        val isJsonManifest = ckptPaths.exists(_.endsWith(".json"))
        val raw = readCheckpointRaw(spark, ckptPaths,
          StructType(logSchema.fields ++ Seq(
            StructField("checkpointMetadata", ckptMetaActionType),
            StructField("sidecar", sidecarType))))
        val top = raw.schema.fieldNames.toSet
        val actionFrames: Seq[DataFrame] =
          if (top.contains("checkpointMetadata") || top.contains("sidecar")) {
            // V2: collect the sidecar pointer rows (names only), resolve
            // each against _delta_log/_sidecars, and read the parts as
            // one distributed scan
            val sidecarNames: Seq[String] =
              if (!top.contains("sidecar")) Seq.empty
              else raw.filter(col("sidecar").isNotNull)
                .select(col("sidecar.path")).collect()
                .map(_.getString(0)).toSeq
            // a parquet manifest shows inline actions in its SCHEMA; a
            // pinned-schema JSON read always has the columns, so the
            // inline evidence there is non-null DATA (manifest-sized)
            val hasInline =
              if (isJsonManifest) {
                sidecarNames.nonEmpty || !raw.filter(
                  col("add").isNotNull || col("remove").isNotNull).isEmpty
              } else top.contains("add") || top.contains("remove")
            if (sidecarNames.isEmpty && !hasInline) {
              throw new UnsupportedOperationException(
                s"$table: V2 checkpoint at version $ckptVersion has " +
                  "neither sidecar pointers nor inline add/remove " +
                  "actions — unknown layout, refusing to reconstruct " +
                  "an empty snapshot from it")
            }
            val conf = spark.sessionState.newHadoopConf()
            val scDir = new Path(new Path(table), "_delta_log/_sidecars")
            val scPaths = sidecarNames.map { n =>
              // sidecar paths are URI-encoded names relative to
              // _delta_log/_sidecars — or absolute URIs, like add.path
              val decoded = java.net.URLDecoder.decode(n, "UTF-8")
              val p =
                if (decoded.contains("://") || decoded.startsWith("/")) {
                  new Path(decoded)
                } else new Path(scDir, decoded)
              // the sidecar's OWN filesystem: an absolute URI on another
              // scheme must resolve through its scheme's FS, not throw
              // 'Wrong FS' out of the log directory's
              val fs = p.getFileSystem(conf)
              if (!fs.exists(p)) {
                throw new IllegalArgumentException(
                  s"$table: V2 checkpoint at version $ckptVersion names " +
                    s"sidecar '$n' but it is missing from " +
                    s"$scDir — cannot reconstruct a partial snapshot")
              }
              p.toString
            }
            // the manifest MAY also carry inline file actions next to
            // its pointers; both legs go through the same re-projection
            // (the JSON manifest is included as-is — rows of non-file
            // actions are all-null under the pinned projection and wash
            // out of the replay)
            (if (isJsonManifest || top.contains("add") ||
                top.contains("remove")) Seq(raw)
             else Seq.empty) ++
              (if (scPaths.nonEmpty) {
                Seq(spark.read.parquet(scPaths: _*))
              } else Seq.empty)
          } else Seq(raw)
        Some(actionFrames.map(fileActionProjection)
          .reduce(_ unionByName _)
          .withColumn("version", lit(ckptVersion)))
      }
    (tail, ckpt) match {
      case (Some(t), Some(c)) => c.unionByName(t)
      case (Some(t), None) => t
      case (None, Some(c)) => c
      case (None, None) =>
        throw new IllegalArgumentException(s"$table: empty _delta_log")
    }
  }

  /**
   * TIME TRAVEL at metadata cost: [[snapshotFiles]] as of `asOfVersion`
   * (inclusive; `None` = latest). The replay starts from the newest
   * checkpoint AT OR BELOW the target and applies only commits up to it
   * — the same log arithmetic Delta readers use, still fully
   * declarative. Refuses when the target predates the oldest surviving
   * segment (log-cleaned history cannot be reconstructed — no evidence,
   * never a partial set) or when no segment at or below the target
   * exists.
   */
  def snapshotFilesAt(
      spark: SparkSession, table: String,
      asOfVersion: Option[Long]): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(conf).makeQualified(p)
    }
    val allSegments = listLogSlices(root, conf)
      .flatMap(f => segmentVersion(f.name).map { case (v, k) => (v, k, f.path) })
    val segments = asOfVersion match {
      case None => allSegments
      case Some(target) =>
        val latest = allSegments.map(_._1).maxOption.getOrElse(-1L)
        if (target > latest) {
          throw new IllegalArgumentException(
            s"$table: version $target is after the latest commit ($latest)")
        }
        val kept = allSegments.filter(_._1 <= target)
        if (kept.isEmpty) {
          throw new IllegalArgumentException(
            s"$table: no log segment at or below version $target")
        }
        kept
    }
    val ckptVersion = segments.collect { case (v, "checkpoint", _) => v }
      .maxOption.getOrElse(-1L)
    // the replay base must be complete: with no usable checkpoint the
    // commit chain has to reach back to version 0 (log cleanup deletes
    // old commits once a checkpoint covers them)
    if (ckptVersion < 0 &&
        !segments.exists { case (v, k, _) => v == 0L && k == "commit" }) {
      throw new IllegalArgumentException(
        s"$table: cannot reconstruct version " +
          s"${asOfVersion.map(_.toString).getOrElse("latest")}: commit 0 " +
          "is gone and no checkpoint at or below the target survives")
    }
    val ckptPaths = selectCheckpointParts(table, ckptVersion,
      segments.collect { case (v, "checkpoint", p) if v == ckptVersion => p })
    val tailPaths = segments.collect {
      case (v, "commit", p) if v > ckptVersion => p
    }

    val acts = decodeActions(spark, table, ckptPaths, ckptVersion, tailPaths)

    acts
      .select(coalesce(col("add.path"), col("remove.path")).as("path"),
        col("version"), col("add"))
      .filter(col("path").isNotNull)
      .groupBy(col("path"))
      // ordering key is (version, is_add): a remove+add pair of the SAME
      // path in the SAME commit (the deletion-vector / metadata-rewrite
      // shape) reconciles to the add — a bare version key would break
      // the tie arbitrarily
      .agg(max_by(struct(col("add"), col("version")),
        struct(col("version"), col("add").isNotNull)).as("w"))
      .filter(col("w.add").isNotNull) // latest action is an add → live
      .select(col("path"),
        // protocol: `path` is a URI-encoded path relative to the root —
        // OR an absolute URI (shallow clones, external files), which
        // must not be root-prefixed into garbage
        when(col("path").contains("://") || col("path").startsWith("/"),
          url_decode(col("path")))
          .otherwise(concat(lit(root.toString + "/"), url_decode(col("path"))))
          .as("abs_path"),
        col("w.version").as("version"),
        col("w.add.size").as("size"),
        col("w.add.modificationTime").as("mod_time"),
        col("w.add.partitionValues").as("partition_values"),
        // numRecords counts PHYSICAL rows; rows deleted via a deletion
        // vector are still inside the file, so the net live count is
        // num_records − dv_cardinality (see has_dv/dv_cardinality)
        get_json_object(col("w.add.stats"), "$.numRecords").cast("long")
          .as("num_records"),
        col("w.add.stats").as("stats"),
        col("w.add.deletionVector").isNotNull.as("has_dv"),
        coalesce(col("w.add.deletionVector.cardinality"), lit(0L))
          .as("dv_cardinality"),
        col("w.add.deletionVector").as("deletion_vector"))
  }

  /**
   * PER-ROW deletion-vector decode: `(path, pos)` — one row per
   * logically-deleted row position in every live file carrying a DV,
   * decoded from the actual roaring64 payloads (inline, `u`-stub or
   * absolute files) via [[DvCodec]]. Makes the net-rows audit
   * verifiable ROW-WISE: positions join against the file's own rows
   * (`_metadata.row_index`), not just a cardinality subtraction. The
   * decode runs EXECUTOR-side (a flatMap over the descriptor rows —
   * one task per DV, the protocol's own granularity: a vector never
   * spans files); cardinality disagreement between descriptor and
   * payload refuses rather than undercounting.
   */
  def deletedPositions(spark: SparkSession, table: String): DataFrame = {
    import spark.implicits._
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val rootStr = {
      val p = new Path(table)
      p.getFileSystem(conf.value).makeQualified(p).toString
    }
    snapshotFiles(spark, table).filter(col("has_dv"))
      .select(col("path"),
        col("deletion_vector.storageType"),
        col("deletion_vector.pathOrInlineDv"),
        col("deletion_vector.offset"),
        col("deletion_vector.sizeInBytes"),
        col("deletion_vector.cardinality"))
      .as[(String, String, String, Option[Int], Int, Long)]
      .flatMap { case (p, st, stub, off, size, card) =>
        val positions = DvCodec.decodeDescriptor(
          st, stub, off, size, new Path(rootStr), conf.value)
        if (positions.length != card) {
          throw new IllegalArgumentException(
            s"$p: deletion vector decodes ${positions.length} positions " +
              s"but its descriptor claims $card — refusing to miscount")
        }
        positions.map(pos => (p, pos))
      }
      .toDF("path", "pos")
  }

  private[meta] val protocolType = StructType(Seq(
    StructField("minReaderVersion", IntegerType),
    StructField("minWriterVersion", IntegerType),
    StructField("readerFeatures", ArrayType(StringType)),
    StructField("writerFeatures", ArrayType(StringType))))

  /** The protocol's multipart checkpoint part name:
    * `<v>.checkpoint.<n>.<m>.parquet`, part n of m, 1-based. */
  private[meta] val MultipartRe = "\\.checkpoint\\.(\\d{10})\\.(\\d{10})\\.parquet$".r

  /** The classic single-file checkpoint name (no part/uuid suffix). */
  private[meta] val ClassicCkptRe = "^\\d{20}\\.checkpoint\\.parquet$".r

  /** Select a COMPLETE checkpoint from the parts surviving at one
    * version. The single-file form stands alone; the multipart form
    * (`.checkpoint.<n>.<m>.parquet`) must be the FULL 1..m set — a
    * partial set silently reconstructs a partial snapshot, so it
    * REFUSES unless a complete single-file sibling survives (writers
    * may leave both forms; reading both would double-count actions, so
    * exactly one form is chosen). */
  private[meta] def selectCheckpointParts(
      table: String, version: Long, paths: Seq[String]): Seq[String] = {
    val (multi, single) = paths.partition(p =>
      MultipartRe.findFirstIn(p).isDefined)
    // each non-multipart file (classic `v.checkpoint.parquet` or a
    // UUID-named V2 manifest) is COMPLETE alone, and the protocol
    // allows several to coexist at one version (a classic compat
    // checkpoint beside a V2 manifest; multiple UUID manifests) —
    // reading more than one double-reads the snapshot and mixes
    // incompatible schemas in one scan, so exactly ONE is chosen:
    // the classic form when present (the most interoperable), else
    // the lexicographically last (deterministic across runs)
    val oneSingle: Seq[String] =
      if (single.isEmpty) Seq.empty
      else Seq(single.find(p =>
        ClassicCkptRe.findFirstIn(new Path(p).getName).isDefined)
        .getOrElse(single.max))
    if (multi.isEmpty) oneSingle
    else {
      val parts = multi.map { p =>
        val m = MultipartRe.findFirstMatchIn(p).get
        (m.group(1).toLong, m.group(2).toLong, p)
      }
      val declaredTotals = parts.map(_._2).distinct
      val have = parts.map(_._1).sorted
      val complete = declaredTotals.size == 1 &&
        have == (1L to declaredTotals.head)
      if (oneSingle.nonEmpty) oneSingle // complete alone; never both forms
      else if (complete) parts.sortBy(_._1).map(_._3)
      else throw new IllegalArgumentException(
        s"$table: multipart checkpoint at version $version is " +
          s"incomplete (parts ${have.mkString(",")} of " +
          s"${declaredTotals.mkString("/")} present) and no single-file " +
          "checkpoint survives — refusing to reconstruct a partial " +
          "snapshot")
    }
  }

  /** The surviving log, split around the LATEST checkpoint:
    * `(root, segments as (version, kind, path), checkpoint version — or
    * -1 with no checkpoint)`. The shared driver boundary of every
    * log-derived report (one tuple per surviving segment). */
  private[meta] def latestLogSplit(
      spark: SparkSession, table: String): (Path, Seq[(Long, String, String)], Long) = {
    val conf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(conf).makeQualified(p)
    }
    val segments = listLogSlices(root, conf)
      .flatMap(f => segmentVersion(f.name).map { case (v, k) => (v, k, f.path) })
    val ckptVersion = segments.collect { case (v, "checkpoint", _) => v }
      .maxOption.getOrElse(-1L)
    (root, segments, ckptVersion)
  }

  /** Re-project a checkpoint action column to the pinned `target`
    * struct FIELD BY FIELD: absent fields read null (older writers),
    * extra writer fields are not read, an absent column is a typed
    * null. The same absent-tolerant shape [[decodeActions]] uses for
    * `add.deletionVector` — checkpoints written before a feature
    * existed must still replay. */
  private[meta] def ckptStruct(raw: DataFrame, colName: String, target: StructType): Column = {
    if (!raw.schema.fieldNames.contains(colName)) lit(null).cast(target)
    else {
      val sub = raw.schema(colName).dataType.asInstanceOf[StructType]
      val fields = target.fields.toSeq.map { f =>
        (if (sub.fieldNames.contains(f.name)) {
          col(s"$colName.${f.name}").cast(f.dataType)
        } else lit(null).cast(f.dataType)).as(f.name)
      }
      when(col(colName).isNotNull, struct(fields: _*))
    }
  }

  /** Reader features whose presence does NOT change what this metadata
    * tier reports: deletionVectors (decoded, net-row aware),
    * v2Checkpoint (sidecar parts followed through the same re-projected
    * replay — see [[decodeActions]]), columnMapping / timestampNtz /
    * typeWidening (data-plane concerns — the log's paths and numRecords
    * are unaffected), vacuumProtocolCheck (vacuum-time only). */
  val UnderstoodReaderFeatures: Set[String] = Set(
    "deletionVectors", "v2Checkpoint", "columnMapping", "timestampNtz",
    "typeWidening", "vacuumProtocolCheck")

  /** Writer features that change log COMPLETENESS, not just its
    * decode: a commit coordinator / owning catalog may hold ratified
    * commits the published `_delta_log` does not yet show, so a
    * metadata census replayed from the published log alone can be
    * stale — [[protocolInfo]] reports `supported=false` when any is
    * declared (the staged-commits DIRECTORY gate in [[listLogSlices]]
    * catches the concrete unbackfilled case on every surface). */
  val CompletenessWriterFeatures: Set[String] = Set(
    "coordinatedCommits", "coordinatedCommits-preview",
    "catalogManaged", "catalogOwned-preview")

  /**
   * The table's PROTOCOL posture, one row: the latest protocol action's
   * versions and feature lists, plus `supported` — whether THIS
   * metadata tier's answers (live set, row counts) remain faithful
   * under that protocol. Reader versions 1/2 are always supported; the
   * table-features version (3) is supported iff every readerFeature is
   * in [[UnderstoodReaderFeatures]] — so a table carrying an unknown
   * future feature reports `supported = false` instead of failing
   * later. The compatibility
   * check a user should run BEFORE trusting any census of a foreign
   * table.
   */
  def protocolInfo(spark: SparkSession, table: String): DataFrame = {
    val (_, segments, ckptVersion) = latestLogSplit(spark, table)
    val commitPaths = segments.collect { case (_, "commit", p) => p }
    val ckptPaths = selectCheckpointParts(table, ckptVersion,
      segments.collect { case (v, "checkpoint", p) if v == ckptVersion => p })
    if (commitPaths.isEmpty && ckptPaths.isEmpty) {
      throw new IllegalArgumentException(s"$table: no log segments to scan")
    }
    // union the commit evidence with the latest checkpoint's protocol
    // row (tagged with the checkpoint version): after log cleanup the
    // protocol action can survive ONLY in the checkpoint, and an agg
    // over zero rows would report an all-null posture instead of the
    // real one
    val fromCommits =
      if (commitPaths.isEmpty) None
      else Some(spark.read
        .schema(StructType(Seq(StructField("protocol", protocolType))))
        .json(commitPaths: _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
        .select(col("protocol"), col("version")))
    val fromCkpt =
      if (ckptPaths.isEmpty) None
      else {
        val raw = readCheckpointRaw(spark, ckptPaths,
          StructType(Seq(StructField("protocol", protocolType))))
        Some(raw.select(ckptStruct(raw, "protocol", protocolType).as("protocol"),
          lit(ckptVersion).as("version")))
      }
    val protocols = Seq(fromCommits, fromCkpt).flatten
      .reduce(_ unionByName _)
      .filter(col("protocol").isNotNull)
    // no evidence, never a guessed posture: a log whose surviving
    // segments carry NO protocol action cannot be classified
    if (protocols.isEmpty) {
      throw new IllegalArgumentException(
        s"$table: no protocol action survives in the log " +
          "(commits or checkpoint) — cannot report a protocol posture")
    }
    protocols
      .agg(max_by(col("protocol"), col("version")).as("p"))
      .select(
        col("p.minReaderVersion").as("min_reader_version"),
        col("p.minWriterVersion").as("min_writer_version"),
        col("p.readerFeatures").as("reader_features"),
        col("p.writerFeatures").as("writer_features"),
        ((col("p.minReaderVersion") <= 2 ||
          forall(coalesce(col("p.readerFeatures"), array()),
            f => f.isin(UnderstoodReaderFeatures.toSeq: _*))) &&
          !exists(coalesce(col("p.writerFeatures"), array()),
            f => f.isin(CompletenessWriterFeatures.toSeq: _*)))
          .as("supported"))
  }

  /**
   * TIMESTAMP AS OF resolution: the LATEST VERSION among commits whose
   * MONOTONIZED timestamp is at or before `tsMs` — `commitInfo
   * .timestamp` when the commit carries one, the segment's file
   * modification time otherwise (the same fallback order Delta readers
   * use), then adjusted the way Delta readers do: a commit whose raw
   * timestamp is not strictly after its predecessor's takes
   * `predecessor + 1 ms`, so writer clock skew can neither hide a
   * commit behind an earlier probe nor time-travel a probe forward
   * past unrequested commits. After adjustment the eligible set is a
   * version PREFIX, so "latest eligible" is well-defined; the winner
   * is picked by VERSION, never by max timestamp. Refuses a timestamp
   * before the first surviving commit. The (version, ts) table is a
   * bounded driver boundary (one pair per log segment). The DuckDB
   * oracle's raw `max(version) where ts <= probe` formula agrees
   * whenever timestamps are monotonic — which every fixture is; the
   * adjustment only changes answers on skewed logs.
   */
  def versionAt(spark: SparkSession, table: String, tsMs: Long): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val root = {
      val p = new Path(table)
      p.getFileSystem(conf).makeQualified(p)
    }
    val slices = listLogSlices(root, conf)
    val commits = slices.flatMap(f =>
      segmentVersion(f.name).collect { case (v, "commit") => (v, f) })
    if (commits.isEmpty) {
      throw new IllegalArgumentException(s"$table: no JSON commits to scan")
    }
    // the protocol's inCommitTimestamps feature makes commitInfo
    // .inCommitTimestamp the AUTHORITATIVE commit time (monotonic by
    // protocol; the wall-clock `timestamp` field and file mtimes are
    // untrusted once the feature is on) — prefer it per commit, fall
    // back to `timestamp`, then to the segment's mtime
    val opTs = spark.read
      .schema(StructType(Seq(StructField("commitInfo", StructType(Seq(
        StructField("timestamp", LongType),
        StructField("inCommitTimestamp", LongType)))))))
      .json(commits.map(_._2.path): _*)
      .withColumn("version",
        regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
      .withColumn("cts", coalesce(col("commitInfo.inCommitTimestamp"),
        col("commitInfo.timestamp")))
      .filter(col("cts").isNotNull)
      .groupBy(col("version"))
      .agg(max(col("cts")).as("ts"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val raw = commits
      .map { case (v, f) => (v, opTs.getOrElse(v, f.mtime)) }
      .sortBy(_._1)
    // monotonic adjustment: in version order, each timestamp is at
    // least its predecessor's + 1 ms
    val adjusted = raw.scanLeft((-1L, Long.MinValue)) {
      case ((_, prevTs), (v, ts)) => (v, math.max(ts, prevTs + 1))
    }.drop(1)
    val resolved = adjusted.filter(_._2 <= tsMs)
    if (resolved.isEmpty) {
      throw new IllegalArgumentException(
        s"$table: timestamp $tsMs is before the first surviving commit")
    }
    resolved.maxBy(_._1)._1
  }

  /** [[snapshotFilesAt]] resolved by TIMESTAMP (see [[versionAt]]). */
  def snapshotFilesAtTime(
      spark: SparkSession, table: String, tsMs: Long): DataFrame =
    snapshotFilesAt(spark, table, Some(versionAt(spark, table, tsMs)))

  /**
   * LATEST TRANSACTION VERSIONS: each streaming writer's
   * `setTransaction` high-water mark — `(app_id, txn_version,
   * table_version)`, the latest `txn` action per appId across the
   * commit log (later TABLE version wins, the protocol's idempotent-
   * writer resume rule). The question a restarting exactly-once writer
   * asks before its first commit.
   */
  private[meta] val txnType = StructType(Seq(
    StructField("appId", StringType),
    StructField("version", LongType),
    StructField("lastUpdated", LongType)))

  def latestTransactions(spark: SparkSession, table: String): DataFrame = {
    val (_, segments, ckptVersion) = latestLogSplit(spark, table)
    val commitPaths = segments.collect { case (_, "commit", p) => p }
    val ckptPaths = selectCheckpointParts(table, ckptVersion,
      segments.collect { case (v, "checkpoint", p) if v == ckptVersion => p })
    if (commitPaths.isEmpty && ckptPaths.isEmpty) {
      throw new IllegalArgumentException(s"$table: no log segments to scan")
    }
    // commits carry txn actions at their own version; the latest
    // checkpoint preserves each appId's reconciled high-water mark for
    // commits the log cleanup may have deleted — its rows are tagged
    // with the CHECKPOINT version (the state is "as of" it). Without
    // the checkpoint leg, a restarting writer whose last commit was
    // cleaned would see no mark at all and double-commit.
    val fromCommits =
      if (commitPaths.isEmpty) None
      else Some(spark.read
        .schema(StructType(Seq(StructField("txn", txnType))))
        .json(commitPaths: _*)
        .withColumn("table_version",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
        .select(col("txn"), col("table_version")))
    val fromCkpt =
      if (ckptPaths.isEmpty) None
      else {
        val raw = readCheckpointRaw(spark, ckptPaths,
          StructType(Seq(StructField("txn", txnType))))
        Some(raw.select(ckptStruct(raw, "txn", txnType).as("txn"),
          lit(ckptVersion).as("table_version")))
      }
    Seq(fromCommits, fromCkpt).flatten
      .reduce(_ unionByName _)
      .filter(col("txn").isNotNull && col("txn.appId").isNotNull)
      .groupBy(col("txn.appId").as("app_id"))
      .agg(max_by(struct(col("txn.version").as("v"),
        col("table_version").as("tv")), col("table_version")).as("w"))
      .select(col("app_id"), col("w.v").as("txn_version"),
        col("w.tv").as("table_version"))
  }

  private[meta] val domainMetadataType = StructType(Seq(
    StructField("domain", StringType),
    StructField("configuration", StringType),
    StructField("removed", BooleanType)))

  /**
   * DOMAIN METADATA report — the protocol's `domainMetadata` actions
   * (system- and connector-owned per-table state domains: clustering
   * columns, row-tracking watermarks, ...): the LATEST action per
   * domain across the commit log and the latest checkpoint (which
   * preserves domains whose commits log cleanup deleted). A tombstoned
   * domain SURFACES with `removed = true` rather than vanishing —
   * dropped-silently is indistinguishable from never-existed, and
   * "was removed at version v" is exactly what a connector debugging
   * lost state needs.
   */
  def domainMetadataReport(spark: SparkSession, table: String): DataFrame = {
    val (_, segments, ckptVersion) = latestLogSplit(spark, table)
    val commitPaths = segments.collect { case (_, "commit", p) => p }
    val ckptPaths = selectCheckpointParts(table, ckptVersion,
      segments.collect { case (v, "checkpoint", p) if v == ckptVersion => p })
    if (commitPaths.isEmpty && ckptPaths.isEmpty) {
      throw new IllegalArgumentException(s"$table: no log segments to scan")
    }
    val fromCommits =
      if (commitPaths.isEmpty) None
      else Some(spark.read
        .schema(StructType(Seq(
          StructField("domainMetadata", domainMetadataType))))
        .json(commitPaths: _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
        .select(col("domainMetadata").as("dm"), col("version")))
    val fromCkpt =
      if (ckptPaths.isEmpty) None
      else {
        val raw = readCheckpointRaw(spark, ckptPaths,
          StructType(Seq(StructField("domainMetadata", domainMetadataType))))
        Some(raw.select(
          ckptStruct(raw, "domainMetadata", domainMetadataType).as("dm"),
          lit(ckptVersion).as("version")))
      }
    Seq(fromCommits, fromCkpt).flatten
      .reduce(_ unionByName _)
      .filter(col("dm").isNotNull && col("dm.domain").isNotNull)
      .groupBy(col("dm.domain").as("domain"))
      .agg(max_by(struct(col("dm.configuration").as("c"),
        col("dm.removed").as("r")), col("version")).as("w"),
        max(col("version")).as("version"))
      .select(col("domain"), col("w.c").as("configuration"),
        col("w.r").as("removed"), col("version"))
  }

  private[meta] val metaDataType = StructType(Seq(
    StructField("id", StringType),
    StructField("schemaString", StringType),
    StructField("partitionColumns", ArrayType(StringType)),
    StructField("configuration", MapType(StringType, StringType))))

  /** Field names + the column-mapping physical name of a Spark
    * StructType json — enough for a drift audit and the
    * logical→physical translation without interpreting types. (The
    * mapping key is a literal dotted JSON key inside each field's
    * `metadata`; access it with `getField`, never dotted-path
    * resolution.) */
  private[meta] val schemaFieldsType =
    StructType(Seq(StructField("fields", ArrayType(StructType(Seq(
      StructField("name", StringType), StructField("type", StringType),
      StructField("metadata", StructType(Seq(
        StructField("delta.columnMapping.physicalName", StringType),
        StructField("delta.columnMapping.id", LongType))))))))))

  /** The decoded `metaData` action frame — `(version, schema_id,
    * fields, partition_columns)`, field names carried as a REAL array
    * (a comma inside a field name must not split it). One row per
    * metaData action in the surviving commits; when log cleanup has
    * deleted commit 0, the latest checkpoint's preserved metaData is
    * prepended as the history BASELINE (tagged with the checkpoint
    * version) — without it the pre-cleanup schema would silently
    * vanish from the history. */
  private[meta] def metaDataFrame(spark: SparkSession, table: String): DataFrame = {
    val (_, segments, ckptVersion) = latestLogSplit(spark, table)
    val commitPaths = segments.collect { case (_, "commit", p) => p }
    val ckptPaths = selectCheckpointParts(table, ckptVersion,
      segments.collect { case (v, "checkpoint", p) if v == ckptVersion => p })
    if (commitPaths.isEmpty && ckptPaths.isEmpty) {
      throw new IllegalArgumentException(s"$table: no log segments to scan")
    }
    val fromCommits =
      if (commitPaths.isEmpty) None
      else Some(spark.read
        .schema(StructType(Seq(StructField("metaData", metaDataType))))
        .json(commitPaths: _*)
        .withColumn("version",
          regexp_extract(input_file_name(), "(\\d{20})\\.json", 1).cast("long"))
        .select(col("metaData"), col("version")))
    // the checkpoint leg joins the history ONLY when commit 0 is gone:
    // while the full commit chain survives, every metaData action is
    // already in it and the checkpoint's copy would duplicate a row
    val logCleaned =
      !segments.exists { case (v, k, _) => v == 0L && k == "commit" }
    val fromCkpt =
      if (ckptPaths.isEmpty || !logCleaned) None
      else {
        val raw = readCheckpointRaw(spark, ckptPaths,
          StructType(Seq(StructField("metaData", metaDataType))))
        Some(raw.select(ckptStruct(raw, "metaData", metaDataType).as("metaData"),
          lit(ckptVersion).as("version")))
      }
    Seq(fromCommits, fromCkpt).flatten
      .reduce(_ unionByName _)
      .filter(col("metaData").isNotNull)
      .select(col("version"),
        col("metaData.id").as("schema_id"),
        from_json(col("metaData.schemaString"), schemaFieldsType)
          .getField("fields").as("fields"),
        col("metaData.partitionColumns").as("partition_columns"),
        col("metaData.configuration").as("configuration"))
  }

  /** The table's COLUMN-MAPPING posture from the latest metaData
    * action: `(mode, logical→physical, logical→field-id)` — mode
    * `"none"` when the `delta.columnMapping.mode` configuration is
    * unset, the maps empty for fields without a physicalName /
    * columnMapping.id. Under mode `name` the PARQUET files carry the
    * physical names (and `add.partitionValues` is keyed by them);
    * under mode `id` they additionally stamp each column's
    * `delta.columnMapping.id` as the parquet field id, and footers
    * match by THAT — so any audit that joins declared fields against
    * footers must translate through the mode's map first. A tiny
    * driver boundary (one pair per declared column). */
  def columnMappingInfo(
      spark: SparkSession, table: String):
      (String, Map[String, String], Map[String, Long]) = {
    val latest = metaDataFrame(spark, table)
      .orderBy(col("version").desc).limit(1)
      .select(
        element_at(col("configuration"), "delta.columnMapping.mode").as("mode"),
        transform(col("fields"), f => struct(
          f.getField("name").as("l"),
          f.getField("metadata")
            .getField("delta.columnMapping.physicalName").as("p"),
          f.getField("metadata")
            .getField("delta.columnMapping.id").as("i"))).as("fp"))
      .collect()
    if (latest.isEmpty) ("none", Map.empty, Map.empty)
    else {
      val r = latest(0)
      val mode = Option(r.getString(0)).getOrElse("none")
      val rows = Option(r.getSeq[org.apache.spark.sql.Row](1))
        .getOrElse(Seq.empty)
      val fp = rows
        .flatMap(x => Option(x.getString(1)).map(p => x.getString(0) -> p))
        .toMap
      val fi = rows
        .flatMap(x => if (x.isNullAt(2)) None
          else Some(x.getString(0) -> x.getLong(2)))
        .toMap
      (mode, fp, fi)
    }
  }

  // ---------------------------------------------------------------------
  // Streaming live-state maintenance
  // ---------------------------------------------------------------------

  /**
   * STREAMING live-state maintenance: one `Trigger.AvailableNow` pass of
   * the delta COMMIT STREAM reconciles each micro-batch's newly arrived
   * log segments into a compact per-path live store, so "what is live
   * NOW" costs a store read instead of a log replay. Each batch decodes
   * ONLY its own segments' actions (the stream's checkpoint admits a
   * segment exactly once across restarts) and merges them with the
   * previous store under the same `(version, is_add)` ordering the batch
   * replay uses — re-merging the same actions is a no-op, so
   * foreachBatch's at-least-once redelivery is safe. The store is
   * path-keyed and metadata-sized (one row per ever-seen file); the
   * local dir-swap publish would be a versioned prefix on an object
   * store. Call again after more commits land; only the new segments
   * replay. Live view: [[readLiveStore]].
   */
  def maintainLiveStore(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String): Unit =
    StoreIO.maintain(spark, table, "delta", "snapshot",
        Seq("filepath", "version", "kind"), storeDir, checkpointDir) {
      (segs, store) =>
        val ckptV = segs.filter(_.getString(2) == "checkpoint")
          .map(_.getLong(1)).maxOption.getOrElse(-1L)
        val ckpts = segs.collect {
          case r if r.getString(2) == "checkpoint" && r.getLong(1) == ckptV =>
            r.getString(0)
        }.toSeq
        val tails = segs.collect {
          case r if r.getString(2) == "commit" && r.getLong(1) > ckptV =>
            r.getString(0)
        }.toSeq
        val acts = decodeActions(spark, table, ckpts, ckptV, tails)
          .select(
            coalesce(col("add.path"), col("remove.path")).as("path"),
            col("version"),
            col("add").isNotNull.as("live"),
            get_json_object(col("add.stats"), "$.numRecords").cast("long")
              .as("num_records"),
            coalesce(col("add.deletionVector.cardinality"), lit(0L))
              .as("dv_cardinality"))
          .filter(col("path").isNotNull)
        val merged = (if (store.exists()) {
          spark.read.parquet(storeDir).unionByName(acts)
        } else acts)
          .groupBy(col("path"))
          .agg(max_by(
            struct(col("version"), col("live"), col("num_records"),
              col("dv_cardinality")),
            struct(col("version"), col("live"))).as("w"))
          .select(col("path"), col("w.version").as("version"),
            col("w.live").as("live"),
            col("w.num_records").as("num_records"),
            col("w.dv_cardinality").as("dv_cardinality"))
        StoreIO.publishStore(merged, store)
    }

  /** The live rows of a [[maintainLiveStore]] store. */
  def readLiveStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir).filter(col("live"))
      .select(col("path"), col("version"), col("num_records"),
        col("dv_cardinality"))

  /**
   * STREAMING CHANGE-DATA-FEED maintenance — the streaming twin of
   * [[changeFeed]]: one `Trigger.AvailableNow` pass of the delta
   * commit stream; each micro-batch that reveals NEW commit versions
   * appends exactly `changeFeed(next_unfed, latest)` as its own
   * increment (`feed_<from>_<to>` parquet subdirs — re-running a
   * range overwrites its own subdir, idempotent under foreachBatch's
   * at-least-once redelivery; already-seen log segments never
   * re-trigger, checkpointed). Because the feed attributes every row
   * to its own commit, the union of increments over split ranges
   * equals the one-shot feed over the full range — a CDC consumer
   * tails [[readChangeFeedStore]] and sees each change row exactly
   * once. Every [[changeFeed]] refusal (underivable cdc-less commits,
   * CDF not enabled across the range) fails the batch LOUDLY instead
   * of feeding wrong rows.
   */
  def maintainChangeFeedStore(
      spark: SparkSession, table: String,
      storeDir: String, checkpointDir: String): Unit =
    StoreIO.maintain(spark, table, "delta", "snapshot",
        Seq("version", "kind"), storeDir, checkpointDir) { (segs, store) =>
      segs.filter(_.getString(1) == "commit")
        .map(_.getLong(0)).maxOption.foreach { to =>
          // ranges already fed, keyed by their inclusive upper bound —
          // only COMPLETED (renamed-into-place) increments count; a
          // crashed attempt left a temp dir, never a feed_* name
          // claiming rows it does not hold
          val from = StoreIO.parsePairs(store, "feed")
            .map(_._2).maxOption.map(_ + 1L).getOrElse(0L)
          if (to >= from) {
            StoreIO.publishIncrement(changeFeed(spark, table, from, to),
              store, s"feed_${from}_$to")
          }
        }
    }

  /** Every change row of a [[maintainChangeFeedStore]] store. */
  def readChangeFeedStore(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(storeDir + "/feed_*")

  /**
   * STATS-based file skipping — the lakehouse data-skipping question
   * at LOG cost: which live files can hold `column` values in
   * `[lo, hi]`, decided from each add's `minValues`/`maxValues` alone.
   * One row per live file with its bounds, `has_bounds`, and
   * `selected`; a file WITHOUT bounds stays selected (no evidence —
   * a sound pruner must read it), never silently skipped.
   */
  def statsPrune(
      spark: SparkSession, table: String, column: String,
      lo: Long, hi: Long): DataFrame = {
    val mn = get_json_object(col("stats"), s"$$.minValues.$column")
      .cast("long")
    val mx = get_json_object(col("stats"), s"$$.maxValues.$column")
      .cast("long")
    snapshotFiles(spark, table)
      .select(col("path"), col("num_records"),
        mn.as("min_value"), mx.as("max_value"))
      .withColumn("has_bounds",
        col("min_value").isNotNull && col("max_value").isNotNull)
      .withColumn("selected",
        !col("has_bounds") ||
          !(col("max_value") < lo || col("min_value") > hi))
  }

}
