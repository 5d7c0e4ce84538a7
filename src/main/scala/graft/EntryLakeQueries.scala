package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{DeltaMeta, HudiMeta, IcebergMeta, MetaValues}
import org.apache.spark.sql.graft.ColumnBridge

/** Query + oracle inventory — table-format tiers (Delta + Iceberg): snapshots, replay,
  * time travel, deletes, audits, live stores.
  * Assembled (disjointly) into the driver contract by
  * [[SparkEntry]]. */
private[graft] object EntryLakeQueries {
  import EntryHelpers._

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // V2 data pages, integer half: the v2 writer's DEFAULT encoding for
    // int columns is DELTA_BINARY_PACKED (block/miniblock bit-packed
    // deltas — a different format from v1's PLAIN entirely), and v2
    // pages compress ONLY the values region behind the uncompressed
    // level block. PageValuesV2 (levels sliced by the header's byte
    // lengths, codec applied per the is_compressed flag) + DeltaIntSum
    // (bit-parity-pinned against parquet-mr's own delta writers,
    // 32/64-bit modular arithmetic per physical type) roll per-page sums
    // up to the engine-independent column sum.
    "meta_delta_values" -> ((s, dir) => {
      val out = Fixtures.deltavals.at(s, dir)
      val pages = meta(s, out, "page", Map("pagecontent" -> "true"))
      val codecs = meta(s, out, "column")
        .select(col("filepath"), col("row_group_id"), col("column_id"),
          col("compression"), col("type"))
      val joined = pages.join(codecs,
        Seq("filepath", "row_group_id", "column_id"))
      val levelBytes = col("def_levels_byte_length") + col("rep_levels_byte_length")
      val region = ColumnBridge.column(graft.functions.PageValuesV2(
        ColumnBridge.expression(col("page_content")),
        ColumnBridge.expression(levelBytes.cast("int")),
        ColumnBridge.expression(when(col("values_compressed"),
          col("compression")).otherwise(lit("UNCOMPRESSED"))),
        ColumnBridge.expression(
          (col("page_uncompressed_size") - levelBytes).cast("int"))))
      val pageSum = ColumnBridge.column(graft.functions.DeltaIntSum(
        ColumnBridge.expression(region), ColumnBridge.expression(col("type"))))
      joined
        .filter(col("page_type") === "DATA_PAGE_V2" &&
          col("encoding") === "DELTA_BINARY_PACKED")
        .agg(count(lit(1)).as("n_pages"),
          sum(pageSum).as("value_sum"),
          sum(col("num_values")).cast("long").as("n_values"))
    }),


    // MIXED-DIRECTORY lake census: parquet + ORC + Avro files side by
    // side in ONE directory — the case a homogeneity-sniffing scan
    // cannot serve. Each format's scan runs under ignorecorrupt so
    // foreign files skip at their 4-byte magic check; every file
    // censuses under exactly the format that accepts it. Oracle
    // recomputes the three (files, rows) pairs in closed form from the
    // source data and the fixture's parity splits.
    "meta_lake_census" -> ((s, dir) => {
      val out = Fixtures.lakecensus.at(s, dir)
      MetaValues.lakeCensus(s, out)
        .select(col("format"), col("n_files"), col("total_rows"))
    }),


    // DELTA LAKE metadata tier, log level: one row per _delta_log
    // segment of a hand-written (public-protocol) fixture table —
    // 5 JSON commits + a parquet checkpoint at v2. Commit action counts
    // come from the line-keyed JSON decode; checkpoint counts come AT
    // FOOTER COST from the checkpoint parquet's own null-count
    // statistics. The oracle is a REAL cross-engine check: DuckDB parses
    // the same JSON (read_json_auto) and checkpoint (read_parquet)
    // independently.
    "meta_delta_snapshot" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      meta(s, out, "snapshot", Map("source" -> "delta"))
        .select(col("version"), col("kind"), col("n_add"), col("n_remove"),
          col("operation"), col("op_timestamp"))
    }),


    // DELTA LAKE live-files audit: snapshot reconstruction (checkpoint
    // parquet + JSON tail, reconciled per path by max_by(action,
    // version) — map-side combinable, no window sort) COMPOSED with the
    // parquet metadata tier over the same directory. Only
    // current-snapshot files audit as live; the two removed-but-present
    // files (vacuum-pending) surface as dead with their footer rows — a
    // raw directory census would silently count them as data. The
    // oracle replays the same log in DuckDB SQL (arg_max over the
    // unioned actions) and reads the same footers.
    "meta_delta_live" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      val live = DeltaMeta.snapshotFiles(s, out)
        .select(col("abs_path"), col("num_records"))
      val footers = meta(s, out, "file", Map("source" -> "parquet"))
        .select(col("filepath"), col("num_rows"))
      footers.join(live, footers("filepath") === live("abs_path"), "left")
        .agg(
          sum(when(col("abs_path").isNotNull, lit(1)).otherwise(lit(0)))
            .cast("long").as("n_live"),
          sum(when(col("abs_path").isNotNull, col("num_records")))
            .cast("long").as("live_rows"),
          sum(when(col("abs_path").isNotNull, col("num_rows")))
            .cast("long").as("footer_rows"),
          sum(when(col("abs_path").isNull, lit(1)).otherwise(lit(0)))
            .cast("long").as("n_dead"),
          sum(when(col("abs_path").isNull, col("num_rows")))
            .cast("long").as("dead_rows"))
    }),


    // DELTA VACUUM-candidate report: tombstones older than the
    // retention window AND still on disk, with row-exact reclaim from
    // their own footers — f1 (age 8000 > 7500) qualifies, f2 (7000)
    // is protected by the window. Oracle: DuckDB replays the same
    // tombstones and reads the same footers.
    "meta_delta_vacuum" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.vacuumCandidates(s, out, 1700000010000L, 7500L)
        .select(col("path"), col("deleted_at"), col("age_ms"), col("num_rows"))
    }),


    // DELTA setTransaction high-water marks: each streaming writer's
    // latest txn version (later TABLE version wins per appId — the
    // protocol's idempotent-writer resume rule; the fixture's ingest-a
    // advances 10 -> 11 at v3). Oracle: DuckDB reads the same txn
    // actions and applies the same rule.
    "meta_delta_txn" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.latestTransactions(s, out)
    }),


    // DELTA SCHEMA HISTORY: the table's schema evolution read from the
    // log's metaData actions alone — one row per schema change with
    // field names decoded from the action's own schemaString (the
    // fixture evolves doc_id,lang -> +quality at v4). Oracle: DuckDB
    // parses the same schemaString JSON independently.
    "meta_delta_schema" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.schemaHistory(s, out)
    }),


    // DELTA SCHEMA CONFORMANCE: declared (log metaData) vs physical
    // (footer) schema per LIVE file — the backfill audit a schema
    // evolution leaves behind; every fixture file predates the v4
    // +quality column. Oracle: DuckDB replays the live set, reads the
    // same footers via parquet_schema, and diffs the same field lists.
    "meta_delta_conformance" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),


    // DELTA PROTOCOL compatibility report: the latest protocol action's
    // versions + feature lists and the tier's own `supported` verdict
    // (v3 tables are faithful iff every readerFeature is understood —
    // deletionVectors and v2Checkpoint both are; an unknown future
    // feature is predicted up front instead of failing later). Oracle:
    // DuckDB replays the same protocol actions and recomputes the same
    // verdict with list_has_all.
    "meta_delta_protocol" -> ((s, dir) => {
      val out = Fixtures.deltaproto.at(s, dir)
      DeltaMeta.protocolInfo(s, out)
        .select(col("min_reader_version"), col("min_writer_version"),
          array_join(col("reader_features"), ",").as("reader_features_csv"),
          array_join(col("writer_features"), ",").as("writer_features_csv"),
          col("supported"))
    }),


    // STREAMING delta live-store maintenance: the commit stream's
    // AvailableNow pass reconciles the log segments into a compact
    // per-path store (decode once per segment, never re-replay); the
    // store's DV-aware numbers must equal DuckDB's independent replay
    // of the same log — the streaming path and the cross-engine batch
    // path answer identically.
    "stream_delta_live" -> ((s, dir) => {
      val out = Fixtures.deltastream.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_deltastore_",
        "graft_deltastoreck_")
      DeltaMeta.maintainLiveStore(s, out, store, ckpt)
      DeltaMeta.readLiveStore(s, store)
        .agg(
          count(lit(1)).cast("long").as("n_live"),
          sum(col("num_records")).cast("long").as("physical_rows"),
          sum(when(col("dv_cardinality") > 0, lit(1)).otherwise(lit(0)))
            .cast("long").as("n_dv_files"),
          sum(col("dv_cardinality")).cast("long").as("dv_deleted"),
          (sum(col("num_records")) - sum(col("dv_cardinality")))
            .cast("long").as("net_rows"))
    }),


    // UNIFIED TABLE CENSUS — one MetaValues.tableCensus call per root:
    // the delta-DV fixture resolves through its log (net = physical −
    // DV), the iceberg fixture through its manifests (delete files
    // subtract), one uniform row each. The oracle recomputes the delta
    // row by replaying the same JSON in DuckDB and both disk sides from
    // the same footers.
    "meta_table_census" -> ((s, dir) => {
      val d = Fixtures.deltadv.at(s, dir)
      val i = Fixtures.iceberg.at(s, dir)
      MetaValues.tableCensus(s, d).unionByName(MetaValues.tableCensus(s, i))
    }),


    // DELTA PARTITION-PRUNED planning at metadata cost: a partitioned
    // fixture (lang=<x>/ dirs, partitionValues in every add action);
    // "which files serve lang='zh'" answers from the LOG alone, then the
    // pruned path list (a bounded, partition-sized driver boundary —
    // the MetaPrune surviving-paths idiom) drives a parquet-tier footer
    // read that touches ONLY those files (pushed filepath IN-list; the
    // spec pins files=2/10 in the plan). The oracle replays the same
    // JSON partitionValues in DuckDB and reads the same pruned footers.
    "meta_delta_partition_prune" -> ((s, dir) => {
      val out = Fixtures.deltapart.at(s, dir)
      val live = DeltaMeta.snapshotFiles(s, out)
      val pruned = live
        .filter(element_at(col("partition_values"), "lang") === "zh")
      val paths = pruned.select("abs_path").collect().map(_.getString(0))
      val footers = meta(s, out, "file", Map("source" -> "parquet"))
        .filter(col("filepath").isin(paths.toSeq: _*))
      live.agg(count(lit(1)).cast("long").as("n_files"))
        .crossJoin(pruned.agg( // 1x1: two single-row aggregates
          count(lit(1)).cast("long").as("n_pruned"),
          sum(col("num_records")).cast("long").as("pruned_rows")))
        .crossJoin(footers.agg(
          sum(col("num_rows")).cast("long").as("footer_rows")))
    }),


    // DELTA TIME TRAVEL at metadata cost: the live set reconstructed AS
    // OF every version 0..4 — each from the newest checkpoint at or
    // below the target plus its commit tail. The oracle replays the
    // SAME versions in DuckDB from the JSON commits ALONE (a different
    // evidence path than the checkpoint+tail plan), so checkpoint and
    // log must tell the same story at every version.
    "meta_delta_travel" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      (0L to 4L).map { v =>
        DeltaMeta.snapshotFilesAt(s, out, Some(v))
          .agg(
            lit(v).as("version"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("num_records")).cast("long").as("live_rows"))
      }.reduce(_ unionByName _)
    }),


    // DELTA TIMESTAMP AS OF: three wall-clock probes, each resolved to
    // a version via commitInfo timestamps and replayed — the oracle
    // resolves the SAME probes from the same commitInfo in DuckDB, so
    // the version RESOLUTION itself is cross-engine, not just the
    // replay.
    "meta_delta_time_travel" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      val ts0 = 1700000000000L
      Seq(500L, 2500L, 99999L).map { off =>
        val v = DeltaMeta.versionAt(s, out, ts0 + off)
        DeltaMeta.snapshotFilesAt(s, out, Some(v))
          .agg(
            lit(off).as("probe_off"),
            lit(v).as("version"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("num_records")).cast("long").as("live_rows"))
      }.reduce(_ unionByName _)
    }),


    // DELTA deletion vectors: the protocol-v3 DELETE-without-rewrite —
    // a v5 commit removes f0 and re-adds the SAME file with a
    // deletionVector descriptor (3 logically-deleted rows). The replay
    // must (a) reconcile the same-version remove+add pair to the add
    // (ordering key (version, is_add), not bare version), and (b) report
    // physical vs net rows — a DV-blind audit overcounts by the DV
    // cardinality. The oracle replays the same log in DuckDB with the
    // same composite-rank arg_max.
    "meta_delta_dv" -> ((s, dir) => {
      val out = Fixtures.deltadv.at(s, dir)
      DeltaMeta.snapshotFiles(s, out)
        .agg(
          count(lit(1)).cast("long").as("n_live"),
          sum(col("num_records")).cast("long").as("physical_rows"),
          sum(when(col("has_dv"), lit(1)).otherwise(lit(0)))
            .cast("long").as("n_dv_files"),
          sum(col("dv_cardinality")).cast("long").as("dv_deleted"),
          (sum(col("num_records")) - sum(col("dv_cardinality")))
            .cast("long").as("net_rows"))
    }),


    // DELTA V2 (sidecar) CHECKPOINT: the v2Checkpoint layout — the
    // checkpoint MANIFEST carries only pointers + non-file actions;
    // add/remove live in _delta_log/_sidecars parts. Commits 0..2 are
    // log-cleaned, so the live set MUST replay through the sidecars
    // (the manifest's pointer rows are the only route to the
    // checkpointed adds). Oracle: DuckDB reads the SAME sidecar parquet
    // + the surviving JSON tail and applies the same composite-rank
    // arg_max replay.
    "meta_delta_v2ckpt" -> ((s, dir) => {
      val out = Fixtures.deltav2.at(s, dir)
      DeltaMeta.snapshotFiles(s, out)
        .select(col("path"), col("version"), col("num_records"))
    }),


    // DELTA V2 checkpoint with a JSON MANIFEST: the protocol's other
    // manifest form — <v>.checkpoint.<uuid>.json, ndjson of non-file
    // actions + checkpointMetadata + sidecar pointers; add/remove live
    // in the same _delta_log/_sidecars parquet parts. Commits 0..2 are
    // log-cleaned and NO parquet checkpoint survives: a reader blind
    // to the form replays from nothing. Oracle: DuckDB reads the same
    // sidecars + JSON tail (the manifest's lines carry no file actions
    // and wash out of its replay) with the composite-rank arg_max.
    "meta_delta_v2ckpt_json" -> ((s, dir) => {
      val out = Fixtures.deltav2j.at(s, dir)
      DeltaMeta.snapshotFiles(s, out)
        .select(col("path"), col("version"), col("num_records"))
    }),


    // DELTA MULTIPART V1 CHECKPOINT: the classic checkpoint split into
    // .checkpoint.<n>.<m>.parquet parts (adds in part 1, everything
    // else in part 2), commits ≤ 2 log-cleaned — the live set MUST
    // replay through the COMPLETE part set (a partial set refuses).
    // Oracle: DuckDB reads the same parts by glob + the surviving JSON
    // tail and applies the same composite-rank arg_max replay.
    "meta_delta_multickpt" -> ((s, dir) => {
      val out = Fixtures.deltamp.at(s, dir)
      DeltaMeta.snapshotFiles(s, out)
        .select(col("path"), col("version"), col("num_records"))
    }),


    // DELTA VERSION-CHECKSUM audit: each surviving <v>.crc declares
    // the post-commit numFiles/tableSizeBytes; the audit replays the
    // log independently (ALL versions in one actions ⋈ broadcast-
    // versions aggregation, no per-version job loop) and flags
    // disagreement. The fixture's v1 crc LIES (numFiles 99) — both
    // engines must flag exactly that row. Oracle: DuckDB reads the
    // same .crc JSONs and replays the same commits with the same
    // composite-rank arg_max.
    "meta_delta_crc_audit" -> ((s, dir) => {
      val out = Fixtures.deltacrc.at(s, dir)
      DeltaMeta.crcAudit(s, out)
    }),


    // DELTA DV ROW-WISE decode: the roaring64 payloads (one inline Z85,
    // one u-storage framed file) decode to actual row POSITIONS, which
    // join each file's own rows by _metadata.row_index — the net-rows
    // audit verified row by row, not by descriptor cardinality. The
    // fixture's files are doc_id-sorted, so the oracle recomputes the
    // SAME deleted doc_ids closed-form: DuckDB ranks rows by doc_id and
    // picks the planted positions.
    "meta_delta_dv_rows" -> ((s, dir) => {
      val out = Fixtures.deltadvb.at(s, dir)
      val pos = DeltaMeta.deletedPositions(s, out)
      val rows = s.read.parquet(out + "/f0.parquet", out + "/f1.parquet")
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("file"),
          col("_metadata.row_index").as("ridx"))
      pos.join(rows, pos("path") === rows("file") && pos("pos") === rows("ridx"))
        .groupBy(col("path"))
        .agg(count(lit(1)).cast("long").as("n_deleted"),
          sum(col("doc_id")).cast("long").as("deleted_docid_sum"))
    }),


    // DELTA COLUMN MAPPING (name mode) conformance: data files carry
    // PHYSICAL names (c1), the declared schema speaks LOGICAL names
    // (doc_id/lang/quality -> c1/c2/c3 via each field's
    // delta.columnMapping.physicalName). The audit joins footers by
    // physical name, reports missing columns by logical name, and
    // excludes the partition column (never inside data files). Oracle:
    // DuckDB parses the same schemaString mapping and diffs the same
    // parquet_schema footers.
    "meta_delta_colmap" -> ((s, dir) => {
      val out = Fixtures.deltacm.at(s, dir)
      DeltaMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),


    // DELTA COLUMN MAPPING in ID mode: footers carry no logical names
    // at all — each column's identity is its parquet FIELD ID (stamped
    // by Spark's own parquet.field.id channel), matched against the
    // schemaString's delta.columnMapping.id. The v2 evolution declares
    // quality (id 3) no file carries. Oracle: DuckDB reads the SAME
    // field ids from parquet_schema and diffs the same declarations.
    "meta_delta_colmap_id" -> ((s, dir) => {
      val out = Fixtures.deltacmid.at(s, dir)
      DeltaMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),


    // DELTA COLUMN MAPPING partition prune: add.partitionValues is
    // keyed by the PHYSICAL partition column name (c2) — the logical
    // probe "lang = 'zh'" must translate through columnMappingInfo
    // before the lookup (mapping-blind pruning silently matches
    // NOTHING). Oracle: DuckDB derives the same physical name from the
    // schemaString and probes the same add actions dynamically.
    "meta_delta_colmap_prune" -> ((s, dir) => {
      val out = Fixtures.deltacm.at(s, dir)
      val (_, mapping, _) = DeltaMeta.columnMappingInfo(s, out)
      val live = DeltaMeta.snapshotFiles(s, out)
      val pruned = live.filter(
        element_at(col("partition_values"), mapping("lang")) === "zh")
      live.agg(count(lit(1)).cast("long").as("n_files"))
        .crossJoin(pruned.agg( // 1x1: two single-row aggregates
          count(lit(1)).cast("long").as("n_pruned"),
          sum(col("num_records")).cast("long").as("pruned_rows")))
    }),


    // ICEBERG metadata tier, snapshot level: one row per snapshot of a
    // hand-written (public-spec) filesystem table — two snapshots in one
    // v1.metadata.json, the second current. The oracle is a REAL
    // cross-engine check: DuckDB parses the same metadata JSON
    // independently (read_json_auto + unnest of the snapshots list).
    "meta_iceberg_snapshot" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      meta(s, out, "snapshot", Map("source" -> "iceberg"))
        .select(col("snapshot_id"), col("timestamp_ms"), col("operation"),
          col("is_current"), col("format_version"))
    }),


    // ICEBERG live-files audit: the distributed manifest walk (one task
    // per manifest) of the CURRENT snapshot COMPOSED with the parquet
    // metadata tier over the same data directory — live data files
    // (status != DELETED, content = data), the format-v2 position-delete
    // manifest (content=1, counted as deletions, never as data), and a
    // deleted-but-present slice a raw census would overcount. The oracle
    // reads the same data-file footers in DuckDB (parquet_file_metadata)
    // and replays the fixture's manifest contract in closed form — the
    // manifest record counts must equal the files' own footer rows.
    "meta_iceberg_live" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      val entries = IcebergMeta.currentFiles(s, out)
      val live = entries
        .filter(col("status") =!= 2 && col("content") === 0)
        .select(col("abs_path"), col("record_count"))
      val footers = meta(s, out + "/data", "file", Map("source" -> "parquet"))
        .select(col("filepath"), col("num_rows"))
      val deletes = entries.filter(col("content") =!= 0)
        .agg(count(lit(1)).cast("long").as("n_delete_files"),
          sum(col("record_count")).cast("long").as("deleted_positions"))
      footers.join(live, footers("filepath") === live("abs_path"), "left")
        .agg(
          sum(when(col("abs_path").isNotNull, lit(1)).otherwise(lit(0)))
            .cast("long").as("n_live"),
          sum(when(col("abs_path").isNotNull, col("record_count")))
            .cast("long").as("live_rows"),
          sum(when(col("abs_path").isNotNull, col("num_rows")))
            .cast("long").as("footer_rows"),
          count(lit(1)).cast("long").as("n_disk"))
        .crossJoin(deletes) // 1×1: two single-row aggregates
        .select(col("n_live"), col("live_rows"), col("footer_rows"),
          (col("live_rows") - col("deleted_positions")).as("net_rows"),
          col("n_delete_files"), col("deleted_positions"), col("n_disk"))
    }),


    // ICEBERG PARTITION-PRUNED planning at metadata cost — the iceberg
    // sibling of meta_delta_partition_prune: the manifest's typed
    // partition records (spec r102) answer "which files serve lang='zh'"
    // without touching data; the pruned path list drives a footer read
    // of only those files. Oracle: DuckDB reads the same pruned
    // partition directory's footers; membership is the fixture contract.
    "meta_iceberg_partition_prune" -> ((s, dir) => {
      val out = Fixtures.icepart.at(s, dir)
      val files = IcebergMeta.currentFiles(s, out)
      val pruned = files
        .filter(element_at(col("partition_values"), "lang") === "zh")
      val paths = pruned.select("abs_path").collect().map(_.getString(0))
      val footers = meta(s, out + "/data", "file", Map("source" -> "parquet"))
        .filter(col("filepath").isin(paths.toSeq: _*))
      files.agg(count(lit(1)).cast("long").as("n_files"))
        .crossJoin(pruned.agg( // 1x1: two single-row aggregates
          count(lit(1)).cast("long").as("n_pruned"),
          sum(col("record_count")).cast("long").as("pruned_rows")))
        .crossJoin(footers.agg(
          sum(col("num_rows")).cast("long").as("footer_rows")))
    }),


    // ICEBERG ORPHAN-file report — remove_orphan_files' delete set at
    // metadata cost: disk files under data/ that NO manifest of ANY
    // listed snapshot references (a DELETED entry still counts);
    // non-parquet debris surfaces via the source=any census. The query
    // plants one stray parquet + one junk blob; the oracle reads the
    // stray's footer in DuckDB, membership is the fixture contract.
    "meta_iceberg_orphans" -> ((s, dir) => {
      val out = Fixtures.iceorph.at(s, dir)
      val tmp = out + "/data/stray_tmp"
      input(s, dir, "documents").limit(7)
        .select(col("doc_id")).coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(out + "/data/stray.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
      java.nio.file.Files.write(
        new java.io.File(out + "/data/junk.bin").toPath,
        Array[Byte](1, 2, 3, 4, 5))
      IcebergMeta.orphanFiles(s, out)
        .select(col("filename"), col("format"), col("num_rows"))
    }),


    // ICEBERG SCHEMA HISTORY: every schema the table metadata still
    // lists (superseded ones survive in `schemas`; `current-schema-id`
    // flags the live one) — the iceberg counterpart of
    // meta_delta_schema. Oracle: DuckDB unnests the same JSON.
    "meta_iceberg_schema" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.schemaHistory(s, out)
    }),


    // ICEBERG SCHEMA CONFORMANCE: the CURRENT declared schema (the
    // schemas entry named by current-schema-id) vs each live data
    // file's own footer — the same backfill audit as
    // meta_delta_conformance, resolved through the manifest chain
    // instead of a commit log (every fixture file predates the +n_chars
    // evolution). Oracle: DuckDB unnests the same metadata JSON and
    // diffs the same parquet_schema footers over the writer-contract
    // live set.
    // ICEBERG V3 DEFAULT VALUES (r19): a column added with
    // initial-default is FILLED AT READ for pre-existing rows — its
    // physical absence is not a backfill gap; a write-default-only
    // column still gaps (old rows read null). The fixture declares
    // both kinds; only 'tag' may surface in missing_csv. Oracle:
    // DuckDB unnests the same metadata JSON, filtering the gap set by
    // the same initial-default rule.
    "meta_iceberg_defaults" -> ((s, dir) => {
      val out = Fixtures.icebergv3d.at(s, dir)
      IcebergMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),

    "meta_iceberg_conformance" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),


    // ICEBERG POSITION-DELETE row-wise audit: the live delete file's
    // (file_path, pos) rows join f0's own rows by _metadata.row_index —
    // merge-on-read deletion verified row by row (the iceberg sibling
    // of meta_delta_dv_rows). Oracle: DuckDB reads the SAME delete
    // parquet and joins the same file with file_row_number=true — no
    // ordering assumption on either side.
    "meta_iceberg_delete_rows" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      val pos = IcebergMeta.positionDeleteRows(s, out)
      val rows = s.read.parquet(out + "/data/f0.parquet")
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("file"),
          col("_metadata.row_index").as("ridx"))
      pos.join(rows,
        regexp_extract(pos("data_path"), "([^/]+)$", 1) === rows("file") &&
          pos("pos") === rows("ridx"))
        .groupBy(col("file").as("path"))
        .agg(count(lit(1)).cast("long").as("n_deleted"),
          sum(col("doc_id")).cast("long").as("deleted_docid_sum"))
    }),


    // ICEBERG v3 DELETION VECTORS row-wise: both DV blobs live in one
    // Puffin file (the v3 writer layout), addressed by the manifest's
    // content_offset/content_size_in_bytes; [[PuffinCodec]] verifies
    // framing magic + CRC and decodes the roaring64 vectors to row
    // POSITIONS, which join each file's own rows by
    // _metadata.row_index. The fixture's files are doc_id-sorted, so
    // the oracle recomputes the SAME deleted doc_ids closed-form from
    // the planted positions.
    "meta_iceberg_dv_rows" -> ((s, dir) => {
      val out = Fixtures.icedv.at(s, dir)
      val pos = IcebergMeta.positionDeleteRows(s, out)
      val rows = s.read.parquet(out + "/data/f0.parquet", out + "/data/f1.parquet")
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("file"),
          col("_metadata.row_index").as("ridx"))
      pos.join(rows,
        regexp_extract(pos("data_path"), "([^/]+)$", 1) === rows("file") &&
          pos("pos") === rows("ridx"))
        .groupBy(col("file").as("path"))
        .agg(count(lit(1)).cast("long").as("n_deleted"),
          sum(col("doc_id")).cast("long").as("deleted_docid_sum"))
    }),


    // COMPACTION PLAN (delta): the OPTIMIZE planning question at
    // metadata cost — bin-pack the snapshot's small files into rewrite
    // groups (path order, group = floor(preceding-bytes/target), the
    // deterministic bin-packing real compactors use), window
    // PARTITIONED BY the table partition so no global sort exists.
    // Oracle: DuckDB replays the same live set from the log and runs
    // the same window arithmetic.
    "compaction_plan_delta" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      val files = DeltaMeta.snapshotFiles(s, out).select(
        col("path"), col("size"),
        array_join(array_sort(transform(map_entries(col("partition_values")),
          e => concat(e.getField("key"), lit("="), e.getField("value")))),
          ",").as("partition_key"))
      // target scales WITH the data (3x the smallest live file) so the
      // plan stays non-trivial at every sf — a fixed byte target would
      // declare everything right-sized the moment files grow past it
      val target = 3L * files.agg(min(col("size"))).head().getLong(0)
      MetaValues.compactionPlan(files, target)
    }),


    // COMPACTION PLAN (iceberg): same planner over the manifest
    // chain's live data files, grouped within each lang partition.
    // Oracle: DuckDB rebuilds the same file inventory from the data
    // directory itself (read_blob sizes) and runs the same window.
    "compaction_plan_iceberg" -> ((s, dir) => {
      val out = Fixtures.icepart.at(s, dir)
      val files = IcebergMeta.currentFiles(s, out)
        .filter(col("status") =!= 2 && col("content") === 0)
        .select(
          regexp_extract(col("file_path"), "([^/]+)$", 1).as("path"),
          col("file_size_bytes").as("size"),
          array_join(array_sort(transform(map_entries(col("partition_values")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))),
            ",").as("partition_key"))
      val target = 3L * files.agg(min(col("size"))).head().getLong(0)
      MetaValues.compactionPlan(files, target)
    }),


    // DELTA STATS-based file skipping: which live files can hold
    // doc_id in [100, 299], decided from each add's minValues/
    // maxValues alone (log cost, zero data I/O); the no-bounds file
    // (f4 carries numRecords only) must stay selected — no evidence,
    // a sound pruner reads it. Oracle: DuckDB parses the same stats
    // JSON from the same log and applies the same interval test.
    "meta_delta_stats_prune" -> ((s, dir) => {
      val out = Fixtures.deltasp.at(s, dir)
      DeltaMeta.statsPrune(s, out, "doc_id", 100L, 299L)
    }),


    // DELTA IN-COMMIT TIMESTAMPS: the inCommitTimestamps feature makes
    // commitInfo.inCommitTimestamp the authoritative commit time — the
    // fixture's WALL timestamps are all within 1 ms (writer clock
    // skew), the ICTs 10 s apart; TIMESTAMP AS OF must resolve by ICT
    // (a wall-clock reader sends every probe to the last version).
    // Oracle: DuckDB applies the same coalesce(ict, ts) max-version
    // rule and replays the resolved snapshots.
    "meta_delta_ict" -> ((s, dir) => {
      val out = Fixtures.deltaict.at(s, dir)
      val ts0 = 1700000000000L
      Seq(5000L, 15000L, 99999L).map { off =>
        val v = DeltaMeta.versionAt(s, out, ts0 + off)
        DeltaMeta.snapshotFilesAt(s, out, Some(v))
          .agg(
            lit(off).as("probe_off"),
            lit(v).as("version"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("num_records")).cast("long").as("live_rows"))
      }.reduce(_ unionByName _)
    }),


    // DELTA DOMAIN METADATA: the protocol's connector-owned state
    // domains, latest action per domain across commits + checkpoint;
    // a tombstoned domain SURFACES with removed=true (v6 removes
    // delta.clustering) rather than vanishing. Oracle: DuckDB replays
    // the same actions with the same version arg_max.
    "meta_delta_domains" -> ((s, dir) => {
      val out = Fixtures.deltadm.at(s, dir)
      DeltaMeta.domainMetadataReport(s, out)
    }),


    // ICEBERG SNAPSHOT-SUMMARY audit: declared added-data-files /
    // added-records per snapshot vs the snapshot's own manifest list
    // (data manifests only); the fixture's snap-2 added-records LIES
    // by one — both engines flag exactly that cell. Oracle: DuckDB
    // parses the same summaries; actuals are the fixture's writer
    // contract recomputed from the data files' own footers.
    // r16: LONG format — one row per audited CELL (snapshot × metric),
    // so a cross-engine divergence names the cell as a row-level diff
    // instead of an opaque wide-row hash mismatch (this query has been
    // hash-red in the driver environment while deterministic-green
    // locally for three rounds; the r15 rename disproved staleness).
    // The raw inputs both engines read are a sibling query,
    // meta_iceberg_summary_inputs.
    "meta_iceberg_summary_audit2" -> ((s, dir) => {
      val out = Fixtures.icesum2.at(s, dir)
      IcebergMeta.snapshotSummaryAuditCells(s, out)
    }),


    // ICEBERG SNAPSHOT-SUMMARY raw inputs: every fact the summary
    // audit consumes, one row each — per-file footer row counts,
    // per-snapshot declared summary metrics (JSON parse), and
    // per-manifest-list-entry attribution fields (avro decode).
    // Triangulates the audit: if this is cross-engine green while
    // audit2 is red, the divergence is in the audit arithmetic; a red
    // file:/snap:/list: row names footer decode / JSON parse / avro
    // decode respectively. Oracle: DuckDB reads the same footers and
    // the same metadata JSON; the avro manifest-list side is the
    // fixture's writer contract (DuckDB cannot read avro).
    "meta_iceberg_summary_inputs" -> ((s, dir) => {
      val out = Fixtures.icesum2.at(s, dir)
      IcebergMeta.summaryInputsReport(s, out)
    }),


    // ICEBERG NDV audit: the statistics Puffin's theta sketches DECODED
    // (compact-theta serial v3) vs each blob's declared ndv property —
    // the fixture's lang blob declares a +3 LIE over a REAL sketch that
    // encodes the true distinct count; the doc_id blob agrees. Oracle:
    // DuckDB reads the same declarations from the metadata JSON and
    // recomputes the sketch side from the DATA FILES themselves (the
    // writer contract: each sketch encodes its column's exact distinct
    // count over f0..f4) — a real cross-engine check of the binary
    // sketch decode.
    "meta_iceberg_ndv_audit" -> ((s, dir) => {
      val out = Fixtures.icendv.at(s, dir)
      IcebergMeta.ndvAudit(s, out)
    }),


    // ICEBERG NDV audit over a COMPRESSED statistics file (r17): the
    // same sketches and declarations, but every theta blob is
    // zstd-compressed AND the Puffin footer itself is lz4-frame
    // compressed (the two codecs the spec allows) — stats files other
    // engines write arrive this way. Same answers as the uncompressed
    // audit; the codec layer must be invisible to the result. Oracle:
    // identical rule on the compressed fixture's path.
    "meta_iceberg_ndv_zstd" -> ((s, dir) => {
      val out = Fixtures.icendvz.at(s, dir)
      IcebergMeta.ndvAudit(s, out)
    }),

    // ICEBERG METADATA-LOG audit: the current metadata's lineage of
    // previous metadata files vs disk — the fixture's v2 lists the
    // real v1 plus a v0 that never existed (the broken-lineage shape
    // that fails rollback mid-walk). Oracle: DuckDB parses the same
    // metadata-log and derives existence from a glob listing.
    "meta_iceberg_metadata_log" -> ((s, dir) => {
      val out = Fixtures.icemlog.at(s, dir)
      IcebergMeta.metadataLogReport(s, out)
    }),


    // DELTA _last_checkpoint POINTER audit: the reader hint file vs
    // the log's actual contents — declared version/parts, surviving
    // parts, completeness, stale-pointer detection (a newer checkpoint
    // the pointer misses), and the commit count past the declared
    // version. Oracle: DuckDB reads the same pointer JSON and
    // recomputes everything from a glob listing of the same log.
    "meta_delta_last_ckpt" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.lastCheckpointAudit(s, out)
    }),


    // ICEBERG REFS report: named branches/tags -> snapshot ids, with
    // dangling detection (a ref to an expired snapshot breaks every
    // reader that follows it) and current-snapshot flagging. The
    // fixture plants main/branch, v1/tag, and a stale tag on an
    // expired id. Oracle: DuckDB parses the same refs map (json_each)
    // and the same snapshots list.
    "meta_iceberg_refs" -> ((s, dir) => {
      val out = Fixtures.icerefs.at(s, dir)
      IcebergMeta.refsReport(s, out)
    }),


    // ICEBERG REF-SCOPED CHANGELOG (r17): "what changed between tag
    // v1 and main", asked exactly as users ask it — both named refs
    // resolve through the metadata's refs map and the ordinary
    // ancestry-validated row-level changelog runs. Same rows as the
    // id-anchored (1,2] feed on this fixture. Oracle: DuckDB reads
    // the same files per the writer contract.
    "meta_iceberg_ref_changelog" -> ((s, dir) => {
      val out = Fixtures.icerefs.at(s, dir)
      IcebergMeta.changelogScanRef(s, out, "v1", "main")
        .select(col("doc_id"), col("lang"), col("_change_type"))
    }),

    // ICEBERG PARTITION-STATISTICS audit: the current snapshot's
    // declared per-partition rollups (a PARQUET stats file named by
    // the metadata's partition-statistics list) vs the manifest
    // chain's own per-partition aggregation; the fixture's first lang
    // LIES about data_file_count — both engines must flag exactly that
    // row. Oracle: DuckDB reads the SAME stats parquet and recomputes
    // the actual side from the data files themselves
    // (parquet_file_metadata rows + read_blob sizes).
    "meta_iceberg_partition_stats" -> ((s, dir) => {
      val out = Fixtures.icepstats.at(s, dir)
      IcebergMeta.partitionStatsAudit(s, out)
    }),


    // ICEBERG PUFFIN STATISTICS audit: the metadata JSON's statistics
    // entries (Puffin sketch files + declared blob-metadata) verified
    // against each Puffin file's OWN footer — one row per actual blob,
    // declared_match flagging type/snapshot disagreement. The oracle is
    // a REAL cross-engine check: DuckDB independently decodes the
    // Puffin footer from raw bytes (read_blob → LE payload-size word →
    // unhex → JSON) and joins the same metadata JSON's declarations.
    "meta_iceberg_puffin_stats" -> ((s, dir) => {
      val out = Fixtures.icestats.at(s, dir)
      IcebergMeta.statisticsReport(s, out)
    }),


    // STREAMING iceberg current-store maintenance: the metadata
    // stream's AvailableNow pass refreshes a per-snapshot store only
    // when a NEW metadata version arrives; the store's census must
    // equal DuckDB's independent read of the same data-file footers.
    "stream_iceberg_live" -> ((s, dir) => {
      val out = Fixtures.icestream.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_icestore_",
        "graft_icestoreck_")
      IcebergMeta.maintainCurrentStore(s, out, store, ckpt)
      val entries = IcebergMeta.readCurrentStore(s, store)
      entries.filter(col("status") =!= 2 && col("content") === 0)
        .agg(
          count(lit(1)).cast("long").as("n_live"),
          sum(col("record_count")).cast("long").as("live_rows"))
        .crossJoin(entries.agg( // 1x1: two single-row aggregates
          count(lit(1)).cast("long").as("n_entries"),
          sum(when(col("content") =!= 0, col("record_count")))
            .cast("long").as("deleted_positions")))
    }),

    // STREAMING INCREMENTAL INGEST: the appends store across TWO
    // metadata arrivals — pass A sees a current-snapshot-1 metadata
    // (baseline increment = snap 1's live set, f0..f2); pass B's new
    // v2.metadata.json flips current to snap 2 and lands EXACTLY its
    // appended files (f3, f4, del0) as increment 2 — the checkpointed
    // stream never re-emits pass A's file, and an increment is keyed
    // by its snapshot (idempotent overwrite). Oracle: closed-form per
    // increment from the data files' own footers.
    "stream_iceberg_appends" -> ((s, dir) => {
      val out = Fixtures.iceapp.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_iceappstore_",
        "graft_iceappck_")
      // pass A: rewind the table to current-snapshot 1 (v1 only)
      val v1 = new java.io.File(out, "metadata/v1.metadata.json")
      val full = new String(java.nio.file.Files.readAllBytes(v1.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.write(v1.toPath,
        full.replace("\"current-snapshot-id\":2,", "\"current-snapshot-id\":1,")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      IcebergMeta.maintainAppendsStore(s, out, store, ckpt)
      // pass B: v2.metadata.json arrives with current snapshot 2
      java.nio.file.Files.write(
        new java.io.File(out, "metadata/v2.metadata.json").toPath,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        new java.io.File(out, "metadata/version-hint.text").toPath,
        "2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      IcebergMeta.maintainAppendsStore(s, out, store, ckpt)
      IcebergMeta.readAppendsStore(s, store)
        .groupBy(col("snapshot_id"))
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(when(col("content") === 0, col("record_count")))
            .cast("long").as("data_rows"),
          sum(when(col("content") =!= 0, col("record_count")))
            .cast("long").as("delete_rows"))
    }),

    // ICEBERG EQUALITY-DELETE row-wise audit (format v2, the Flink
    // merge-on-read shape): delete files carry VALUE rows matched on
    // their equality_ids columns, null equals null — resolved as a
    // null-safe semi join of the live data files against the delete
    // files' distinct keys. Oracle: DuckDB reads the SAME delete
    // parquets and data files and joins IS NOT DISTINCT FROM.
    "meta_iceberg_eq_rows" -> ((s, dir) => {
      val out = Fixtures.iceeq.at(s, dir)
      IcebergMeta.equalityDeleteRows(s, out)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("eq_cols"), col("key_csv"))
    }),


    // ICEBERG PARTITION-SPEC evolution audit: after ADD PARTITION
    // FIELD, which live files were written under the OLD spec (they
    // dodge partition pruning until rewritten)? Spec ids from each
    // file's manifest, renderings from the metadata's partition-specs;
    // the fixture evolves unpartitioned -> by-lang with default spec 1,
    // so f0/f1 flag as backfill candidates. Oracle: DuckDB derives the
    // default-spec-id and spec renderings from the SAME metadata JSON.
    "meta_iceberg_spec_audit" -> ((s, dir) => {
      val out = Fixtures.icespec.at(s, dir)
      IcebergMeta.partitionSpecAudit(s, out)
        .select(regexp_extract(col("file_path"), "([^/]+)$", 1).as("file"),
          col("spec_id"), col("spec_csv"), col("is_default"))
    }),

    // ICEBERG MANIFEST-HEALTH report: rewrite_manifests' planning
    // question — per current-snapshot manifest, entry counts from the
    // manifest's OWN rows (one decode task each) and the deterministic
    // bin-packed rewrite_group for under-target manifests (data and
    // delete manifests pack separately). Oracle: closed-form counts
    // from the writer contract + read_blob manifest sizes.
    "meta_iceberg_manifest_health" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.manifestHealthReport(s, out)
    }),

    // ICEBERG SNAPSHOT-EXPIRY plan: a compaction rewrite ages out —
    // expiring snap 1 must free exactly its manifest list, the m0
    // manifest only it references, and the pre-compaction data files
    // f0/f1 (DELETED-status entries in the surviving rewrite manifest
    // do not block: no survivor reads through them). c0 and m1 stay.
    // Oracle: closed-form from the writer contract with real byte
    // sizes via read_blob.
    "meta_iceberg_expiry" -> ((s, dir) => {
      val out = Fixtures.icecomp.at(s, dir)
      IcebergMeta.expiryPlan(s, out, 1700000000500L)
        .select(col("kind"),
          regexp_extract(col("object"), "([^/]+)$", 1).as("object"),
          col("bytes"))
    }),

    // EXPIRY with PER-REF retention (r16): the keep2 branch's
    // min-snapshots-to-keep=2 HOLDS its ancestor snap 2 past the
    // cutoff, while oldtag's max-ref-age-ms=500 has expired the ref
    // itself — so snap 1 expires DESPITE being tagged and snap 2
    // survives despite aging out: exactly snap 1's lineage slice
    // (manifest list, manifest, data file) is reclaimed. Oracle:
    // closed-form from the writer contract with read_blob sizes.
    "meta_iceberg_expiry_refs" -> ((s, dir) => {
      val out = Fixtures.icexpr.at(s, dir)
      IcebergMeta.expiryPlan(s, out, 1700000002500L)
        .select(col("kind"),
          regexp_extract(col("object"), "([^/]+)$", 1).as("object"),
          col("bytes"))
    }),

    // EXPIRY + STATISTICS: expire_snapshots also deletes statistics /
    // partition-statistics files keyed to expired snapshots — the
    // fixture attaches a puffin + partition-stats parquet to the
    // expired snap 1 (both must land in the plan, kind=statistics) and
    // a puffin to the surviving snap 2 (must not). Oracle: the expiry
    // closed form plus the declared stats entries from the same JSON.
    "meta_iceberg_expiry_stats" -> ((s, dir) => {
      val out = Fixtures.icexps.at(s, dir)
      IcebergMeta.expiryPlan(s, out, 1700000000500L)
        .select(col("kind"),
          regexp_extract(col("object"), "([^/]+)$", 1).as("object"),
          col("bytes"))
    }),

    // ICEBERG SNAPSHOT-LOG audit: the (timestamp, snapshot-id) history
    // TIMESTAMP AS OF walks — the fixture plants a dangling entry
    // (expired snapshot 99) whose timestamp also steps backward, so
    // both listed=false and monotone=false must surface. Oracle:
    // DuckDB parses the same snapshot-log with the same window.
    "meta_iceberg_snapshot_log" -> ((s, dir) => {
      val out = Fixtures.icesnlog.at(s, dir)
      IcebergMeta.snapshotLogReport(s, out)
    }),

    // ICEBERG READ AT A NAMED REF (VERSION AS OF branch/tag): the refs
    // map resolves each name to its pinned snapshot; live data files
    // census per ref — the v1 tag must see the PRE-overwrite file set.
    // Oracle: writer-contract file sets per ref, rows from the files'
    // own footers.
    "meta_iceberg_ref_read" -> ((s, dir) => {
      val out = Fixtures.icerefrd.at(s, dir)
      def one(ref: String) = IcebergMeta.filesAtRef(s, out, ref)
        .filter(col("status") =!= 2 && col("content") === 0)
        .select(lit(ref).as("ref"),
          regexp_extract(col("abs_path"), "([^/]+)$", 1).as("file"),
          col("record_count"))
      one("main").unionByName(one("v1"))
    }),

    // ICEBERG ROW-LEVEL CHANGELOG over (1, 2]: inserts are the
    // appended data files' rows; deletes are the rows the appended
    // position-delete file removes (resolved against the target
    // file's own row indexes) PLUS every row of the REMOVED f5 — the
    // range's status=2 copy-on-write whole-file delete (r16; dropping
    // it silently resurrected those rows). Oracle: DuckDB reads the
    // same files (position deletes = f0's positions 0,1 per the
    // writer contract; removal deletes = all of f5).
    "meta_iceberg_changelog" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.changelogScan(s, out, 1L, 2L)
        .select(col("doc_id"), col("lang"), col("_change_type"))
    }),

    // STREAMING ROW-LEVEL CHANGELOG: the checkpointed store across TWO
    // metadata arrivals — pass A bootstraps snapshot 1's net state as
    // inserts (f0..f2, no live deletes yet); pass B's v2 metadata
    // lands EXACTLY changelogScan(1,2)'s rows (f3/f4 inserts, del0's
    // two positions + all of the removed f5 as deletes). Oracle:
    // the batch changelog rule, per snapshot, on this fixture's path.
    "stream_iceberg_changelog" -> ((s, dir) => {
      val out = Fixtures.icecl.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_iceclstore_",
        "graft_iceclck_")
      // pass A: rewind the table to current-snapshot 1 (v1 only)
      val v1 = new java.io.File(out, "metadata/v1.metadata.json")
      val full = new String(java.nio.file.Files.readAllBytes(v1.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      java.nio.file.Files.write(v1.toPath,
        full.replace("\"current-snapshot-id\":2,", "\"current-snapshot-id\":1,")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      IcebergMeta.maintainChangelogStore(s, out, store, ckpt)
      // pass B: v2.metadata.json arrives with current snapshot 2
      java.nio.file.Files.write(
        new java.io.File(out, "metadata/v2.metadata.json").toPath,
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.write(
        new java.io.File(out, "metadata/version-hint.text").toPath,
        "2".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      IcebergMeta.maintainChangelogStore(s, out, store, ckpt)
      IcebergMeta.readChangelogStore(s, store)
        .select(col("doc_id"), col("lang"), col("_change_type"),
          col("snapshot_id"))
    }),

    // ICEBERG ROW-LEVEL CHANGELOG over a range that appends EQUALITY
    // deletes (r16): the appended eq0/eq1 delete files resolve
    // row-wise through the shared tagged-scan machinery — deletes are
    // the sequence-1 f0/f1 rows their keys match (null-safe; a row
    // two delete files both match reports ONCE), the same-sequence f2
    // survives the strictly-less scope and its rows are the inserts.
    // Oracle: DuckDB applies the same keys with IS NOT DISTINCT FROM.
    "meta_iceberg_changelog_eq" -> ((s, dir) => {
      val out = Fixtures.iceeq.at(s, dir)
      IcebergMeta.changelogScan(s, out, 1L, 2L)
        .select(col("doc_id"), col("lang"), col("_change_type"))
    }),

    // ICEBERG ROW-LEVEL CHANGELOG over DELETION-VECTOR snapshots
    // (r16): range (1,2] emits the appended vectors' positions as
    // deletes (f0 {1,3,5} + f1 {0,2}); range (2,3] crosses a
    // SUPERSESSION (the old f0 vector rides as an in-range status=2
    // removal, live at from) and emits ONLY the newly-dead position
    // {7}. Both decoded row-wise through PuffinCodec. Oracle: DuckDB
    // selects the same file positions (the planted vectors are the
    // writer contract).
    "meta_iceberg_changelog_dv" -> ((s, dir) => {
      val out = Fixtures.icedvcl.at(s, dir)
      IcebergMeta.changelogScan(s, out, 1L, 2L)
        .withColumn("rng", lit("1-2"))
        .unionByName(IcebergMeta.changelogScan(s, out, 2L, 3L)
          .withColumn("rng", lit("2-3")))
        .select(col("doc_id"), col("lang"), col("_change_type"),
          col("rng"))
    }),

    // ICEBERG ROW-LEVEL CHANGELOG across a TRANSIENT file (r17): fT
    // was added at snap 2 AND removed at snap 3 — its add evidence is
    // gone from snap 3's manifest list, so the (1,3] feed recovers it
    // from snap 2's own list and emits fT's rows BOTH as insert and
    // as delete (plus f2's plain insert), exactly as Iceberg's own
    // per-snapshot incremental changelog would. Oracle: DuckDB reads
    // the same files per the writer contract.
    "meta_iceberg_changelog_transient" -> ((s, dir) => {
      val out = Fixtures.icetrans.at(s, dir)
      IcebergMeta.changelogScan(s, out, 1L, 3L)
        .select(col("doc_id"), col("lang"), col("_change_type"))
    }),

    // ICEBERG INCREMENTAL APPEND SCAN: files the snapshots in (1, 2]
    // ADDED, from snap-2's own manifest list by added_snapshot_id
    // attribution — the reused snap-1 manifest contributes nothing,
    // the deleted f5 entry is not an append, and the new DELETE file
    // surfaces too (content=1; an incremental consumer that missed it
    // would resurrect rows). Oracle: closed-form from the writer
    // contract, appended data files' rows from their own footers.
    "meta_iceberg_incremental" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.appendedFiles(s, out, 1L, 2L)
        .select(regexp_extract(col("file_path"), "([^/]+)$", 1).as("file"),
          col("content").cast("int").as("content"), col("record_count"))
    }),

    // DELTA LOG-CLEANUP plan: which log segments delta.logRetention
    // cleanup may delete — strictly before the covering checkpoint AND
    // aged past retention. The fixture plants a superseded checkpoint
    // at v1 (old → deletable), an old v0 commit (deletable), and a v1
    // commit written late (young → the AGE gate keeps it). Oracle:
    // closed-form ages from the planted mtimes + read_blob sizes.
    "meta_delta_log_cleanup" -> ((s, dir) => {
      val out = Fixtures.deltaclean.at(s, dir)
      val log = new java.io.File(out, "_delta_log")
      val ts0 = 1700000000000L
      val hour = 3600000L
      java.nio.file.Files.copy(
        new java.io.File(log, f"${2L}%020d.checkpoint.parquet").toPath,
        new java.io.File(log, f"${1L}%020d.checkpoint.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      def touch(name: String, t: Long): Unit = {
        val ok = new java.io.File(log, name).setLastModified(t)
        require(ok, s"could not set mtime on $name")
      }
      touch(f"${0L}%020d.json", ts0)
      touch(f"${1L}%020d.checkpoint.parquet", ts0 + hour)
      touch(f"${1L}%020d.json", ts0 + 2 * hour) // written late: stays
      Seq(f"${2L}%020d.json", f"${2L}%020d.checkpoint.parquet",
        f"${3L}%020d.json", f"${4L}%020d.json")
        .foreach(touch(_, ts0 + 9 * hour))
      DeltaMeta.logCleanupPlan(s, out,
        nowMs = ts0 + 10 * hour, retainMs = 8 * hour + hour / 2)
    }),

    // DELTA INCREMENTAL commit-range diff: every file action in
    // commits (2, 4] of the base fixture — adds with their stats rows,
    // removes with null num_records; gapped ranges refuse. Oracle:
    // DuckDB reads the same commits filtered by the same version range.
    "meta_delta_incremental" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.commitDiff(s, out, 2L, 4L)
    }),

    // ICEBERG EQUALITY-delete EXACT NET CENSUS: the working path the
    // metadata-cost census refuses into — per live data file, distinct
    // equality-deleted positions subtracted from the manifest's
    // record_count (a row matched by several delete groups counts
    // once; f2 sits outside every delete's sequence scope and reports
    // 0). Oracle: DuckDB resolves the same distinct row positions via
    // file_row_number + IS NOT DISTINCT FROM joins.
    "meta_iceberg_eq_census" -> ((s, dir) => {
      val out = Fixtures.iceeq.at(s, dir)
      IcebergMeta.equalityNetCensus(s, out)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("record_count"), col("eq_deleted"), col("net_rows"))
    }),

    // ICEBERG MANIFEST-BOUNDS pruning: the way iceberg engines plan
    // scans — per-file lower/upper value bounds from the MANIFEST
    // (single-value binary, decoded) answer a range predicate with
    // zero footer reads; the bounds-less nb.parquet must survive (no
    // evidence never prunes). Oracle: the fixture writes TRUTHFUL
    // bounds, so DuckDB recomputes them from the files' own footer
    // stats and applies the same interval rule — a real cross-engine
    // check of the binary single-value decode.
    "meta_iceberg_bounds_prune" -> ((s, dir) => {
      val out = Fixtures.icebnd.at(s, dir)
      IcebergMeta.manifestBoundsPrune(s, out, "doc_id", 100L, 200L)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("lower"), col("upper"), col("survives"))
    }),

    // The EXECUTABLE form: plan from manifests, scan only the
    // surviving files, let Catalyst push the residual predicate into
    // their row groups — the answer must equal a full-scan filter.
    // Oracle: DuckDB filters ALL the data (its planner prunes with
    // the same footer stats the fixture's bounds mirror).
    "meta_iceberg_pruned_read" -> ((s, dir) => {
      val out = Fixtures.icebnd.at(s, dir)
      IcebergMeta.readBoundsPruned(s, out, "doc_id", 100L, 200L)
        .filter(col("doc_id").between(100L, 200L))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("doc_id")).cast("long").as("sum_id"))
    }),

    // The same manifest bounds aggregated into the clustering
    // overlap-depth integers (span_sum/global_span at MANIFEST cost,
    // zero footer reads); the bounds-less file counts unbounded.
    "meta_iceberg_bounds_clustering" -> ((s, dir) => {
      val out = Fixtures.icebnd.at(s, dir)
      IcebergMeta.boundsClusteringReport(s, out, "doc_id")
    }),

    // MANIFEST-LIST partition-summary pruning (r16): the prune real
    // planners apply BEFORE opening any manifest — the list's
    // per-partition-field summaries prove m1 (parts [2,3]) disjoint
    // from part ∈ [0,1], so the bounds tier never opens it (one row
    // per manifest: bounds, survives, attributed rows). Oracle:
    // closed-form from the fixture's writer contract; row counts
    // recomputed from the data files' own footers.
    "meta_iceberg_manifest_prune" -> ((s, dir) => {
      val out = Fixtures.icesumprune.at(s, dir)
      IcebergMeta.manifestSummaryPrune(s, out, "part", 0L, 1L)
    }),

    // STRING equality-probe pruning from manifest bounds (raw UTF-8):
    // the probe is the first lang half's LAST value, so s0 survives
    // and s1 is provably disjoint — pruned with zero footer reads.
    // Oracle: DuckDB recomputes both files' lang min/max from the data
    // and derives the SAME probe from s0 itself.
    "meta_iceberg_bounds_prune_str" -> ((s, dir) => {
      val out = Fixtures.icesbnd.at(s, dir)
      val probe = s.read.parquet(out + "/data/s0.parquet")
        .agg(max("lang")).head().getString(0)
      IcebergMeta.manifestBoundsPruneString(s, out, "lang", probe)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("lower"), col("upper"), col("survives"))
    }),

    // STRING RANGE pruning from manifest bounds (r16): the probe
    // range is exactly the second lang half's [min, max], so s1
    // survives and s0 (whose upper sits strictly below) is provably
    // disjoint — truncation conservatism keeps the test sound.
    // Oracle: DuckDB recomputes both files' lang min/max from the
    // data and derives the SAME probes from s1 itself.
    "meta_iceberg_bounds_prune_str_range" -> ((s, dir) => {
      val out = Fixtures.icesbnd.at(s, dir)
      val mm = s.read.parquet(out + "/data/s1.parquet")
        .agg(min("lang"), max("lang")).head()
      IcebergMeta.manifestBoundsPruneStringRange(
        s, out, "lang", mm.getString(0), mm.getString(1))
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("lower"), col("upper"), col("survives"))
    }),

    // DATE RANGE pruning from manifest bounds (r16): dates ride the
    // spec's 4-byte LE int epoch-days serialization; the fixture's
    // date-ranked quartiles make early files survive a Feb-Mar probe
    // and late files provably disjoint. Oracle: DuckDB recomputes
    // each file's date min/max from the data itself.
    "meta_iceberg_bounds_prune_date" -> ((s, dir) => {
      val out = Fixtures.icetbnd.at(s, dir)
      IcebergMeta.manifestBoundsPruneDate(
        s, out, "d", "2020-02-01", "2020-03-15")
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("lower").cast("string").as("lower"),
          col("upper").cast("string").as("upper"), col("survives"))
    }),

    // DECIMAL RANGE pruning from manifest bounds (r16): decimals ride
    // the spec's minimal big-endian two's-complement unscaled bytes
    // (the endianness flip vs int/long is exactly what a naive
    // decoder gets wrong). Oracle: DuckDB recomputes each file's
    // amount min/max from the data itself.
    "meta_iceberg_bounds_prune_dec" -> ((s, dir) => {
      val out = Fixtures.icetbnd.at(s, dir)
      IcebergMeta.manifestBoundsPruneDecimal(
        s, out, "amount", BigDecimal("10.00"), BigDecimal("17.25"))
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("lower").cast("double").as("lower"),
          col("upper").cast("double").as("upper"), col("survives"))
    }),

    // ICEBERG ROLLBACK plan: rollback_to_snapshot 1 planned at
    // metadata cost — the current snapshot's f3/f4 would be removed;
    // nothing needs re-adding (snap 2 reuses snap 1's manifest).
    // Oracle: writer-contract file sets, rows from the footers.
    "meta_iceberg_rollback" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      IcebergMeta.rollbackPlan(s, out, 1L)
        .select(col("action"),
          regexp_extract(col("path"), "([^/]+)$", 1).as("file"),
          col("record_count"))
    }),

    // DELTA CHANGE DATA FEED over [0, 2]: cdc files are the authority
    // for their commit (v1's pre/post images supersede its add/remove);
    // cdc-less commits derive file-granularity inserts (v0) and
    // deletes (v2). Three scans total regardless of range width.
    // Oracle: DuckDB reads the same files per the same rule.
    "meta_delta_cdf" -> ((s, dir) => {
      val out = Fixtures.deltacdf.at(s, dir)
      DeltaMeta.changeFeed(s, out, 0L, 2L)
        .select(col("doc_id"), col("lang"), col("_change_type"),
          col("_commit_version"))
    }),

    // STREAMING CHANGE-DATA-FEED: the checkpointed feed store across
    // TWO commit arrivals — pass A sees commits 0..1 and feeds them;
    // pass B's newly-landed commit 2 feeds EXACTLY [2,2] (seen
    // segments never re-trigger). The union of split-range increments
    // must equal the one-shot batch feed over [0,2] — the oracle is
    // meta_delta_cdf's, on this fixture's own path.
    "stream_delta_cdf" -> ((s, dir) => {
      val out = Fixtures.deltacdfstream.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_deltacdfstore_",
        "graft_deltacdfck_")
      // pass A: commit 2 has not arrived yet (staged OUTSIDE the log)
      val v2 = new java.io.File(out,
        "_delta_log/00000000000000000002.json")
      val aside = new java.io.File(out, "aside_2.json")
      require(v2.renameTo(aside), s"could not stage $v2 aside")
      DeltaMeta.maintainChangeFeedStore(s, out, store, ckpt)
      // pass B: commit 2 lands
      require(aside.renameTo(v2), s"could not land $aside")
      DeltaMeta.maintainChangeFeedStore(s, out, store, ckpt)
      DeltaMeta.readChangeFeedStore(s, store)
        .select(col("doc_id"), col("lang"), col("_change_type"),
          col("_commit_version"))
    }),

    // DELTA CHANGE FEED over DELETION-VECTOR commits (r16): v1's
    // inline DV kills f0 positions {1,3}; v2 widens it to a u-storage
    // vector {1,3,5} and the feed emits ONLY the newly-dead position
    // 5; v3 removes f1 outright carrying a DV over {0}, so its live
    // REMAINDER dies. Row-level resolution through DvCodec — never
    // whole-file over-reporting. Oracle: DuckDB selects the same
    // file positions (the fixture's planted vectors are the
    // contract).
    "meta_delta_cdf_dv" -> ((s, dir) => {
      val out = Fixtures.deltacdfdv.at(s, dir)
      DeltaMeta.changeFeed(s, out, 0L, 3L)
        .select(col("doc_id"), col("lang"), col("_change_type"),
          col("_commit_version"))
    }),

    // DELTA RESTORE plan: RESTORE TO VERSION AS OF 1 planned before
    // writing anything — re_add what version 1 served and later
    // commits removed (f1, f2), remove what arrived after (f4-f6).
    // Oracle: writer-contract file sets, rows from the files' footers.
    "meta_delta_restore" -> ((s, dir) => {
      val out = Fixtures.delta.at(s, dir)
      DeltaMeta.restorePlan(s, out, 1L)
        .select(col("action"), col("path"), col("num_records"))
    }),

    // DELTA ROW-TRACKING audit: baseRowId ranges of the live files
    // must be disjoint (two files sharing a row id silently corrupt
    // CDC and materialized row ids) — the fixture's f2 overlaps f1's
    // range by three ids. Oracle: writer-contract bases + footer rows
    // with the same strict window rule.
    "meta_delta_row_tracking" -> ((s, dir) => {
      val out = Fixtures.deltart.at(s, dir)
      DeltaMeta.rowTrackingAudit(s, out)
    }),

    // ICEBERG MANIFEST-METRICS audit: declared value_counts /
    // null_value_counts (the numbers NOT-NULL pruning trusts) vs the
    // footers' own num_values + null_count — f1's declared null count
    // LIES by one, f2 declares nothing and surfaces with nulls.
    // Oracle: DuckDB derives the declared side from the writer
    // contract and the actual side from the same data files.
    "meta_iceberg_metrics_audit" -> ((s, dir) => {
      val out = Fixtures.icemet.at(s, dir)
      IcebergMeta.metricsAudit(s, out, "lang")
    }),

    // ICEBERG MERGED census: BOTH v2 delete shapes live at once (the
    // state positionDeleteRows refuses and equalityNetCensus ignores
    // by contract) — distinct positions removed by EITHER shape,
    // counted once on overlap: f0 loses eq keys AND positions {0,5}
    // where 0 overlaps an eq match and 5 is position-only evidence.
    // Oracle: DuckDB unions the same eq joins with the position rows.
    "meta_iceberg_merged_census" -> ((s, dir) => {
      val out = Fixtures.icemrg.at(s, dir)
      IcebergMeta.mergedNetCensus(s, out)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("record_count"), col("deleted"), col("net_rows"))
    }),

    // ICEBERG PARTITION-SCOPED equality deletes: a delete written
    // under a partitioned spec applies ONLY within its partition —
    // the fixture plants the SAME key values in two lang partitions,
    // deletes keys 0-2 scoped to partition A and key 7 globally; the
    // keys 0-2 rows in partition B are the cross-partition survivors
    // a table-wide application would silently kill. Oracle: DuckDB
    // joins the SAME delete parquets against each partition's data
    // file per the spec's scope rule (no eq_part x fB join exists).
    "meta_iceberg_eq_part_rows" -> ((s, dir) => {
      val out = Fixtures.iceeqp.at(s, dir)
      IcebergMeta.equalityDeleteRows(s, out)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("eq_cols"), col("key_csv"))
    }),

    // The same partitioned fixture's EXACT NET CENSUS: per data file,
    // distinct equality-deleted positions under BOTH scopes (partition
    // A loses its 0-2 keys plus key 7; partition B loses ONLY key 7).
    "meta_iceberg_eq_part_census" -> ((s, dir) => {
      val out = Fixtures.iceeqp.at(s, dir)
      IcebergMeta.equalityNetCensus(s, out)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("record_count"), col("eq_deleted"), col("net_rows"))
    }),

    // ICEBERG SORT-ORDER audit: the declared write order (sort-orders
    // + default-sort-order-id) vs what the data files' own footer
    // min/max say — per live data file, the order's first key interval
    // and an in_order verdict from the cumulative-max window (O(n log n),
    // no pairwise self-join). The fixture plants the second-smallest
    // doc in f2, so f2 (and the f1 it shadows) flag while f0/f3 stay
    // clean. Oracle: DuckDB parses the SAME metadata JSON for the
    // declared side (field name resolved through the schema, not
    // hardcoded) and recomputes the measured side from parquet_metadata
    // with the same window.
    "meta_iceberg_sort_order" -> ((s, dir) => {
      val out = Fixtures.icesort.at(s, dir)
      IcebergMeta.sortOrderAudit(s, out)
    }),

    // ICEBERG TIMESTAMP AS OF: wall-clock probes resolved from the
    // snapshot list's timestamp-ms — the oracle resolves the SAME
    // probes from the same JSON in DuckDB and cross-checks the rows
    // against the data files' own footers.
    "meta_iceberg_time_travel" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      val ts0 = 1700000000000L
      Seq(500L, 99999L).map { off =>
        val id = IcebergMeta.snapshotIdAt(s, out, ts0 + off)
        IcebergMeta.filesAt(s, out, Some(id))
          .filter(col("status") =!= 2 && col("content") === 0)
          .agg(
            lit(off).as("probe_off"),
            lit(id).as("snapshot_id"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("record_count")).cast("long").as("data_rows"))
      }.reduce(_ unionByName _)
    }),


    // ICEBERG TIME TRAVEL / snapshot diff at metadata cost: both listed
    // snapshots resolve through their own manifest lists; the per-
    // snapshot live-data census shows exactly what the overwrite
    // changed. The oracle reads the same data-file footers in DuckDB —
    // per-snapshot membership is the fixture contract, the row numbers
    // are the cross-engine check on the manifest decode.
    "meta_iceberg_travel" -> ((s, dir) => {
      val out = Fixtures.iceberg.at(s, dir)
      Seq(1L, 2L).map { id =>
        IcebergMeta.filesAt(s, out, Some(id))
          .filter(col("status") =!= 2 && col("content") === 0)
          .agg(
            lit(id).as("snapshot_id"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("record_count")).cast("long").as("data_rows"))
      }.reduce(_ unionByName _)
    }),

    // TRANSFORM-aware partition pruning (r16), bucket[4](doc_id): the
    // probe's bucket is recomputed driver-side with the spec's
    // Appendix-B murmur3 (vector-pinned in IcebergTransformSpec); a
    // file survives iff its manifest partition tuple carries that
    // bucket — zero footer or data I/O. Oracle: the data files CARRY
    // the bucket column the fixture computed, so DuckDB derives each
    // file's tuple value AND the probe's expected bucket from the
    // data alone — cross-checking the prune logic, while the hash
    // itself is pinned to the spec's published vectors.
    "meta_iceberg_bucket_prune" -> ((s, dir) => {
      val out = Fixtures.icebkt.at(s, dir)
      IcebergMeta.bucketPrune(s, out, "doc_id", 7L)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_bucket"), col("survives"))
    }),

    // The EXECUTABLE form: plan survivors from the bucket tuples,
    // scan ONLY them, push the residual equality — must equal a
    // full-scan filter (DuckDB reads all the data).
    "meta_iceberg_bucket_read" -> ((s, dir) => {
      val out = Fixtures.icebkt.at(s, dir)
      IcebergMeta.readBucketPruned(s, out, "doc_id", 7L)
        .filter(col("doc_id") === 7L)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
    }),

    // truncate[100] range pruning: truncate is monotone, so the file
    // tuple `t` answers `k ∈ [120, 250]` via `truncate(120) <= t <=
    // truncate(250)`. Oracle: DuckDB recomputes every tuple value AND
    // the truncated probe range in plain SQL — fully independent.
    "meta_iceberg_truncate_prune" -> ((s, dir) => {
      val out = Fixtures.icetrn.at(s, dir)
      IcebergMeta.truncatePrune(s, out, "k", 120L, 250L)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_trunc"), col("survives"))
    }),

    // HUDI timeline (the third lake format's commit log): one row per
    // instant file of the hand-written COW fixture — two completed
    // commits with their requested/inflight markers plus a DANGLING
    // incomplete instant. Oracle: closed-form writer contract.
    "meta_hudi_timeline" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.timelineReport(s, out)
    }),

    // HUDI live census with footer conformance: per FILE GROUP the
    // latest completed slice (c2's rewrite of fid0 supersedes c1's;
    // the orphan base file and the dangling instant never surface),
    // declared numWrites vs each live footer's own row count — c1's
    // fid1 stat LIES by +1 and must flag. Oracle: DuckDB reads the
    // same footers; membership is the writer contract.
    "meta_hudi_live" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.liveCensus(s, out)
        .select(col("file_id"), col("partition_path"), col("path"),
          col("instant_time"), col("declared_rows"), col("footer_rows"),
          col("is_match"))
    }),

    // HUDI time travel at metadata cost: the live view AS OF each
    // completed instant — c1 serves fid0@c1 + fid1, c2 swaps in
    // fid0's rewrite and adds fid2. Rows from the footers (the
    // declared side carries the planted lie). Oracle: same footers,
    // writer-contract membership.
    "meta_hudi_travel" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      Seq("20240101000000000", "20240102000000000").map { i =>
        HudiMeta.liveCensus(s, out, Some(i))
          .agg(lit(i).as("instant_time"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("footer_rows")).cast("long").as("data_rows"))
      }.reduce(_ unionByName _)
    }),

    // HUDI INCREMENTAL PULL: the files written by commits in
    // (from, to] — pull ("0", c1] bootstraps c1's two inserts, pull
    // (c1, c2] lands EXACTLY c2's rewrite + insert. Rows as declared
    // (fid1's +1 lie included — the pull reports what the commit
    // claimed; conformance is the census's job). Oracle: footers +
    // the writer contract.
    "meta_hudi_incremental" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      val (c1, c2) = ("20240101000000000", "20240102000000000")
      Seq(("0", c1), (c1, c2)).map { case (f, t) =>
        HudiMeta.incrementalPull(s, out, f, t)
          .agg(lit(t).as("instant_time"),
            count(lit(1)).cast("long").as("n_files"),
            sum(col("declared_rows")).cast("long").as("declared_rows"))
      }.reduce(_ unionByName _)
    }),

    // HUDI row in the UNIFORM table census: live = latest declared
    // slice per file group (rows as declared — the delta-stats
    // analog), dead = the superseded c1 slice + the orphan. Oracle:
    // the same footers, membership and the +1 lie from the writer
    // contract.
    "meta_hudi_census" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      MetaValues.tableCensus(s, out)
    }),

    // HUDI CLEAN plan (the GC planning family): KEEP_LATEST 1 version
    // per file group reclaims exactly the superseded c1 slice of fid0
    // — never the live slices, never the undeclared orphan. Oracle:
    // writer contract + the reclaimed file's own footer.
    "meta_hudi_clean" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.cleanPlan(s, out, 1)
        .select(col("file_id"), col("path"), col("instant_time"),
          col("declared_rows"))
    }),

    // HUDI ORPHANS: on-disk base files no completed commit declares —
    // the planted fid3 leftover, surfaced with its footer rows.
    // Oracle: the same anti-join over DuckDB's footer listing.
    "meta_hudi_orphans" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.orphanReport(s, out)
    }),

    // HUDI through the DATASOURCE surface: a bare load of the table
    // root auto-detects the `.hoodie` marker structurally and lists
    // the TIMELINE (one row per instant file, facts decoded from the
    // NAME — zero I/O per row). Oracle: the same writer contract as
    // meta_hudi_timeline.
    "meta_hudi_source" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      s.read.format("metadata").load(out)
        .select(col("instant_time"), col("action"), col("state"))
    }),

    // ICEBERG v3 ROW-LINEAGE audit (the delta row-tracking mirror):
    // first_row_id ranges resolved per the spec — f0 explicit, f1/f2
    // INHERITED positionally from the manifest's own first_row_id —
    // must be disjoint and under next-row-id; the planted f3 dips 3
    // ids into f2's range AND ends past the headroom, flagging both.
    // Oracle: footers give every range width; bases are the spec's
    // closed-form inheritance.
    "meta_iceberg_row_lineage" -> ((s, dir) => {
      val out = Fixtures.icerl.at(s, dir)
      IcebergMeta.rowLineageAudit(s, out)
        .select(regexp_extract(col("file_path"), "([^/]+)$", 1).as("file"),
          col("first_row_id"), col("record_count"), col("disjoint"),
          col("within_next"))
    }),

    // month(ts) range pruning: tuple values are the spec's
    // months-since-epoch int (ten month partitions across a year
    // boundary at any scale factor), surfaced as the month's first
    // day. Oracle: DuckDB recomputes each file's month from its own
    // ts values and applies the same month-window rule.
    "meta_iceberg_months_prune" -> ((s, dir) => {
      val out = Fixtures.icemon.at(s, dir)
      IcebergMeta.monthsPrune(s, out, "ts", "2023-08-15", "2023-11-02")
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_month"), col("survives"))
    }),

    // hour(ts) range pruning: tuple values are the spec's
    // hours-since-epoch int (48 exact-hour partitions across two
    // days); the probe window keeps hours 06Z..03Z of the next day.
    // Oracle: DuckDB recomputes each file's hour from its own ts
    // values (exact-hour by construction, so min(ts) IS the hour).
    "meta_iceberg_hours_prune" -> ((s, dir) => {
      val out = Fixtures.icehr.at(s, dir)
      IcebergMeta.hoursPrune(s, out, "ts",
        "2024-03-01T06:00:00", "2024-03-02T03:00:00")
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_hour"), col("survives"))
    }),

    // year(ts) range pruning: tuple values are years-since-epoch; the
    // fixture spans 2023-2024, the probe keeps 2024 only. Oracle:
    // DuckDB recomputes each file's year from its own ts values.
    "meta_iceberg_years_prune" -> ((s, dir) => {
      val out = Fixtures.iceyr.at(s, dir)
      IcebergMeta.yearsPrune(s, out, "ts", 2024, 2024)
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_year"), col("survives"))
    }),

    // The v3 row-lineage READ path: materialized _row_id = file base +
    // row position, bases broadcast against _metadata.file_path (one
    // scan, no shuffle of the data). On the clean fixture the ids are
    // exactly 0..N-1 — count, distinct count, min, max, and the exact
    // arithmetic-series sum all pin the per-row assignment. Oracle:
    // closed form from the footers' row counts.
    "meta_iceberg_row_ids" -> ((s, dir) => {
      val out = Fixtures.icerlc.at(s, dir)
      IcebergMeta.readWithRowIds(s, out)
        .agg(count(lit(1)).cast("long").as("n_rows"),
          countDistinct(col("_row_id")).cast("long").as("n_distinct_ids"),
          min(col("_row_id")).cast("long").as("min_id"),
          max(col("_row_id")).cast("long").as("max_id"),
          sum(col("_row_id")).cast("long").as("sum_ids"))
    }),

    // HUDI PARTITION-PRUNED planning: "which live files serve p=1"
    // answers from the commits' declared partitionPath alone, then the
    // read touches ONLY fid2's base file (plan-asserted in the spec).
    // Oracle: DuckDB reads the same single file.
    "meta_hudi_partition_prune" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.readPartitionPruned(s, out, "p=1")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("doc_id")).cast("long").as("sum_id"))
    }),

    // COMPACTION PLAN (hudi): the same small-file planner the delta and
    // iceberg tiers run, over the commit-declared live slices — sizes
    // come from the commits' own totalWriteBytes, zero file I/O at
    // planning time. p=0's two small slices bin together; p=1's lone
    // slice never forms a group. Oracle: read_blob sizes of the same
    // live files (the fixture declares truthful bytes) + the same
    // window rule.
    "compaction_plan_hudi" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      val files = HudiMeta.liveFiles(s, out).select(
        regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
        col("file_size").as("size"),
        col("partition_path").as("partition_key"))
      val target = 3L * files.agg(min(col("size"))).head().getLong(0)
      MetaValues.compactionPlan(files, target)
    }),

    // HUDI SCHEMA HISTORY from each commit's own extraMetadata.schema
    // (the avro writer schema hudi stamps per commit): c2 evolves the
    // declared schema (+quality). Oracle: DuckDB parses the same
    // escaped avro JSON out of the commit files independently.
    "meta_hudi_schema" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.schemaHistory(s, out)
    }),

    // HUDI SCHEMA CONFORMANCE: the latest declared schema vs each live
    // base file's own footer fields — every live slice predates the
    // +quality evolution, so all three report it missing (the backfill
    // question evolution leaves behind). Oracle: DuckDB reads the same
    // footers via parquet_schema and the declared side from the
    // commit's own JSON.
    "meta_hudi_conformance" -> ((s, dir) => {
      val out = Fixtures.hudi.at(s, dir)
      HudiMeta.schemaConformance(s, out)
        .select(regexp_extract(col("path"), "([^/]+)$", 1).as("path"),
          col("n_declared"), col("n_present"), col("missing_csv"))
    }),

    // HUDI CLUSTERING (replacecommit, r17): the live view after rc3
    // clusters fid0+fid1 into fid3 — the replaced groups die at the
    // replacing instant (still on disk, cleaner's job), the clustered
    // base serves with footer conformance proving it holds exactly
    // the union of the replaced groups' rows. Oracle: DuckDB reads
    // the same footers; membership is the HoodieReplaceCommitMetadata
    // writer contract.
    "meta_hudi_clustered_census" -> ((s, dir) => {
      val out = Fixtures.hudicl.at(s, dir)
      HudiMeta.liveCensus(s, out)
        .select(col("file_id"), col("partition_path"), col("path"),
          col("instant_time"), col("declared_rows"), col("footer_rows"),
          col("is_match"))
    }),

    // HUDI CLUSTERING time travel: asOf c2 still serves the three
    // pre-clustering groups; asOf rc3 serves the clustered pair —
    // replacement is instant-scoped, never retroactive. Oracle: the
    // same footers, writer-contract membership.
    "meta_hudi_clustered_travel" -> ((s, dir) => {
      val out = Fixtures.hudicl.at(s, dir)
      Seq("20240102000000000", "20240103000000000").map { i =>
        HudiMeta.liveCensus(s, out, Some(i))
          .agg(lit(i).as("instant_time"),
            count(lit(1)).cast("long").as("n_live"),
            sum(col("footer_rows")).cast("long").as("data_rows"))
      }.reduce(_ unionByName _)
    }),

    // HUDI MERGE-ON-READ timeline: the deltacommit-shaped timeline of
    // the hand-written MOR fixture — three completed deltacommits with
    // their markers, a dangling requested deltacommit, and the bare
    // `<instant>.inflight` COMMIT marker real Hudi writes (must parse
    // as commit/inflight, never as a completed 'inflight' action).
    // Oracle: closed-form writer contract.
    "meta_hudi_mor_timeline" -> ((s, dir) => {
      val out = Fixtures.hudimor.at(s, dir)
      HudiMeta.timelineReport(s, out)
    }),

    // HUDI MOR FILE GROUPS: per file group the latest base slice plus
    // its declared log chain — fid0 carries the two-log chain in
    // version order, fid1/fid2 are log-free; the merge itself is
    // explicitly NOT performed (declared counts reported as declared).
    // Oracle: writer contract + the base footers.
    "meta_hudi_mor_groups" -> ((s, dir) => {
      val out = Fixtures.hudimor.at(s, dir)
      HudiMeta.morFileGroups(s, out)
        .select(col("file_id"), col("partition_path"), col("base_instant"),
          col("base_path"), col("declared_base_rows"), col("n_logs"),
          col("declared_log_rows"), col("log_paths_csv"))
    }),

    // HUDI MOR CENSUS with base-footer conformance: declared base rows
    // vs each live base footer (dc1's fid1 stat LIES by +1 and must
    // flag), log files at DECLARED depth only — the census must never
    // open a .log file (HoodieLogFormat blocks are not modeled).
    // Oracle: DuckDB reads the same base footers; log numbers are the
    // writer contract.
    "meta_hudi_mor_census" -> ((s, dir) => {
      val out = Fixtures.hudimor.at(s, dir)
      HudiMeta.morCensus(s, out)
    }),

    // HUDI MOR INCREMENTAL PULL: the writes (base or log) the
    // deltacommits in (from, to] declared — pull ("0", dc1] is the
    // two base inserts (fid1's declared +1 lie included, as declared);
    // pull (dc1, dc3] is fid0's two log appends + fid2's base insert.
    // Merging logs is the consumer's job; the declared counts are the
    // planning surface. Oracle: base footers + the writer contract.
    "meta_hudi_mor_incremental" -> ((s, dir) => {
      val out = Fixtures.hudimor.at(s, dir)
      val (dc1, dc3) = ("20240101000000000", "20240103000000000")
      Seq(("0", dc1), (dc1, dc3)).map { case (f, t) =>
        HudiMeta.morIncrementalPull(s, out, f, t)
          .agg(lit(t).as("to_instant"),
            count(lit(1)).cast("long").as("n_writes"),
            sum(when(col("is_log"), 1L).otherwise(0L)).cast("long")
              .as("n_logs"),
            sum(col("declared_rows")).cast("long").as("declared_rows"))
      }.reduce(_ unionByName _)
    }),

    // HUDI METADATA-TABLE FILES AUDIT (r18): the .hoodie/metadata
    // index's files partition (HoodieMetadataPayload records, parquet
    // base) cross-checked against the commit-declared live view — a
    // planted STALE entry (superseded slice still listed) and a
    // LAGGING index (live file unlisted) both flag declared_match=
    // false; deleted entries and the type-1 partitions record are
    // filtered. Oracle: closed-form writer contract + base footers.
    "meta_hudi_metadata_files" -> ((s, dir) => {
      val out = Fixtures.hudimd.at(s, dir)
      HudiMeta.metadataFilesAudit(s, out)
    }),

    // HUDI MOR CLEAN PLAN (r19): the cleaner question for merge-on-
    // read — a compaction's new base supersedes fid0's old slice, and
    // the reclaim plan takes the slice's ATTACHED LOG CHAIN with it
    // (a log whose base is reclaimed serves no reader); single-slice
    // groups are untouched. Oracle: the writer contract in closed
    // form.
    "meta_hudi_mor_clean" -> ((s, dir) => {
      val out = Fixtures.hudimorclean.at(s, dir)
      HudiMeta.morCleanPlan(s, out, 1)
    }),

    // HUDI METADATA TABLE, HFILE BASE (r19): the same files-partition
    // audit when the index's base file is a real HFILE (the format
    // Hudi's metadata writer defaults to) — trailer, root index,
    // CRC32C-verified data blocks and avro HoodieMetadataRecord cells
    // all decoded by the scan-only HFile reader; same planted stale
    // and lagging divergences. Oracle: footers + the writer contract.
    "meta_hudi_metadata_hfile" -> ((s, dir) => {
      val out = Fixtures.hudimdh.at(s, dir)
      HudiMeta.metadataFilesAudit(s, out)
    }),

    // HUDI METADATA TABLE, UN-COMPACTED LOGS (r19): the index's
    // newest listings live in HoodieLogFormat hfile-data blocks whose
    // content is a complete HFile image — walked with the metadata
    // table's own timeline rules, decoded by the same HFile reader,
    // and merged over the base newest-wins per (partition, file).
    // The fixture's log CATCHES THE INDEX UP (tombstones the stale
    // entry, adds the lagging one), so the audit comes back fully
    // clean — an answer only the log merge can produce. Oracle:
    // footers + the writer contract.
    "meta_hudi_metadata_hfile_log" -> ((s, dir) => {
      val out = Fixtures.hudimdhl.at(s, dir)
      HudiMeta.metadataFilesAudit(s, out)
    }),

    // HUDI 1.x TIMELINE (r18): table version 8 — the active timeline
    // under .hoodie/timeline/ with completion-time instant names
    // (<begin>_<end>.commit), the archived-LSM history/ subdirectory
    // skipped, requested/inflight markers unchanged. Oracle:
    // closed-form writer contract.
    "meta_hudi_v1x_timeline" -> ((s, dir) => {
      val out = Fixtures.hudiv1x.at(s, dir)
      HudiMeta.timelineReportFull(s, out)
    }),

    // HUDI 1.x LIVE CENSUS (r18): the COW surfaces resolving on the
    // v8 layout — identical numbers to the 0.x census (fid1's +1 lie
    // flagged, the orphan invisible), proving instant ids stay the
    // REQUEST times file slices embed while completion times order
    // only visibility. Oracle: the same base footers.
    "meta_hudi_v1x_census" -> ((s, dir) => {
      val out = Fixtures.hudiv1x.at(s, dir)
      HudiMeta.liveCensus(s, out)
        .select(col("file_id"), col("partition_path"), col("path"),
          col("instant_time"), col("declared_rows"), col("footer_rows"),
          col("is_match"))
    }),

    // HUDI MOR PER-ROW MERGE (r18): the LIVE ROWS of a MOR table whose
    // log files carry real HoodieLogFormat blocks — avro data blocks
    // (updates + inserts) decoded with their commits' own writer
    // schemas, a delete block, delete-then-update resurrection (last
    // event wins), a rolled-back block, an uncommitted in-flight
    // block, a mid-file corrupt region and a truncated tail — all
    // resolved per the spec's reader rules. Oracle: DuckDB recomputes
    // the merge relationally from the same deterministic event rules
    // over the documents table.
    "meta_hudi_mor_rows" -> ((s, dir) => {
      val out = Fixtures.hudimorlog.at(s, dir)
      HudiMeta.morMergedRows(s, out)
    }),

    // HUDI MOR MERGED CENSUS (r18): per live file group, the commits'
    // DECLARED claims next to the row count the log merge actually
    // resolves to — the census depth the r17 tier refused. Oracle:
    // closed-form event arithmetic over the documents table.
    "meta_hudi_mor_merged_census" -> ((s, dir) => {
      val out = Fixtures.hudimorlog.at(s, dir)
      HudiMeta.morMergedCensus(s, out)
    }),

    // HUDI COW ROW-LEVEL CHANGE FEED by SLICE DIFF (r18): copy-on-
    // write rewrites whole files and this table has no per-row
    // commit-time metadata — the feed derives row changes from
    // CONTENT, diffing each rewritten slice against its predecessor
    // by record key: updates emit new values, vanished keys emit
    // deletes WITH their old values, byte-identical rows emit
    // nothing, untouched groups are never read. Oracle: the same
    // classification recomputed relationally.
    "meta_hudi_cow_changes" -> ((s, dir) => {
      val out = Fixtures.hudicd.at(s, dir)
      HudiMeta.cowIncrementalRows(s, out,
        "20240101000000000", "20240102000000000")
    }),

    // HUDI MOR ROW-LEVEL CHANGE FEED (r18): the delta-CDF/iceberg-
    // changelog counterpart for Hudi — rows whose latest write lands
    // in (dc1, dc3], at their merged values as of dc3: fid2's new base
    // rows, the delete-then-update resurrections and log inserts as
    // upserts, and final-event deletes as key-only delete rows.
    // Oracle: DuckDB recomputes the window classification relationally
    // from the same deterministic event rules.
    "meta_hudi_mor_changes" -> ((s, dir) => {
      val out = Fixtures.hudimorlog.at(s, dir)
      HudiMeta.morIncrementalRows(s, out,
        "20240101000000000", "20240103000000000")
    }),

    // HUDI MOR COMPOSITE RECORD KEY (r19): the row-level change feed
    // on a TWO-FIELD record key (hoodie.table.recordkey.fields=
    // doc_id,lang — the complex key generator's production config):
    // base rows and log events meet on the public
    // `doc_id:<v>,lang:<v>` rendering (null lang -> __null__), log
    // updates resolve by key, and the delete block's composite-
    // rendered keys kill exactly their rows (update-then-delete keys
    // die — last event wins). Oracle: DuckDB concatenates the same
    // rendering over the documents table.
    "meta_hudi_mor_composite" -> ((s, dir) => {
      val out = Fixtures.hudimorck.at(s, dir)
      HudiMeta.morIncrementalRows(s, out,
        "20240101000000000", "20240102000000000")
    }),

    // HUDI MOR PRECOMBINE RESOLUTION (r19): a table declaring
    // hoodie.table.precombine.field resolves same-key events by
    // (ordering value, arrival) instead of arrival alone — the
    // fixture's event arrival order DISAGREES with its ordering
    // values, so this answer must differ from last-wins: the
    // high-ordering update beats both the later low-ordering update
    // and the delete (null ordering sorts lowest). Oracle: the same
    // resolution in closed form over the documents table.
    "meta_hudi_mor_precombine" -> ((s, dir) => {
      val out = Fixtures.hudimorpc.at(s, dir)
      HudiMeta.morMergedRows(s, out)
    }),

    // HUDI CDC LOG BLOCKS (r19): a cdc-enabled writer appends cdc-data
    // blocks with its own before/after images next to the payload
    // blocks — the change feed resolves cdc-instrumented groups from
    // those NATIVE images (fid0: u/i/d) and plain groups from the
    // derived path (fid1), in one answer. Oracle: the images
    // recomputed from the fixture's event plan.
    "meta_hudi_cdc_changes" -> ((s, dir) => {
      val out = Fixtures.hudicdc.at(s, dir)
      HudiMeta.morIncrementalRows(s, out,
        "20240101000000000", "20240102000000000")
    }),

    // STREAMING HUDI INGEST: the checkpointed increments store across
    // TWO commit arrivals — pass A sees c1 completed and lands its
    // slices; pass B's newly-landed c2.commit lands EXACTLY c2's
    // increment (seen timeline files never re-trigger). Same numbers
    // as the batch incremental pull. Oracle: footers + writer
    // contract (fid1's declared +1 lie included).
    "stream_hudi_appends" -> ((s, dir) => {
      val out = Fixtures.hudistream.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_hudistore_",
        "graft_hudick_")
      // pass A: c2's completion marker has not arrived yet
      val c2 = new java.io.File(out, ".hoodie/20240102000000000.commit")
      val aside = new java.io.File(out, "aside_c2.commit")
      require(c2.renameTo(aside), s"could not stage $c2 aside")
      HudiMeta.maintainIncrementsStore(s, out, store, ckpt)
      require(aside.renameTo(c2), s"could not land $aside")
      c2.setLastModified(System.currentTimeMillis() + 1)
      HudiMeta.maintainIncrementsStore(s, out, store, ckpt)
      HudiMeta.readIncrementsStore(s, store)
        .groupBy(col("instant_time"))
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("declared_rows")).cast("long").as("declared_rows"))
    }),

    // STREAMING HUDI MOR INGEST (r17): the crash-safe increments store
    // across TWO deltacommit arrivals — pass A sees dc1+dc2 completed
    // and lands their declared writes (bases AND the first log); pass
    // B's newly-landed dc3.deltacommit lands EXACTLY the second log
    // append (seen timeline files never re-trigger). Same numbers as
    // the batch morIncrementalPull. Oracle: base footers + the writer
    // contract (fid1's +1 lie and the declared log rows included).
    "stream_hudi_mor_appends" -> ((s, dir) => {
      val out = Fixtures.hudimorstream.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_hudimorstore_",
        "graft_hudimorck_")
      // pass A: dc3's completion marker has not arrived yet
      val dc3 = new java.io.File(out, ".hoodie/20240103000000000.deltacommit")
      val aside = new java.io.File(out, "aside_dc3.deltacommit")
      require(dc3.renameTo(aside), s"could not stage $dc3 aside")
      HudiMeta.maintainMorIncrementsStore(s, out, store, ckpt)
      require(aside.renameTo(dc3), s"could not land $aside")
      dc3.setLastModified(System.currentTimeMillis() + 1)
      HudiMeta.maintainMorIncrementsStore(s, out, store, ckpt)
      HudiMeta.readMorIncrementsStore(s, store)
        .groupBy(col("instant_time"))
        .agg(count(lit(1)).cast("long").as("n_writes"),
          sum(when(col("is_log"), 1L).otherwise(0L)).cast("long")
            .as("n_logs"),
          sum(col("declared_rows")).cast("long").as("declared_rows"))
    }),

    // STREAMING HUDI MOR ROW-LEVEL CHANGE FEED (r18): the
    // checkpointed per-instant change store across TWO arrivals —
    // pass A lands dc1's bootstrap (the merged view then, no deletes)
    // and dc2's window changes; pass B's newly-landed dc3 lands
    // EXACTLY its own window (the resurrection upserts + final-event
    // deletes), with per-instant attribution. Oracle: the same window
    // classification recomputed relationally.
    "stream_hudi_mor_changes" -> ((s, dir) => {
      val out = Fixtures.hudimorchg.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_hudimorchgstore_",
        "graft_hudimorchgck_")
      // pass A: dc3's completion marker has not arrived yet
      val dc3 = new java.io.File(out, ".hoodie/20240103000000000.deltacommit")
      val aside = new java.io.File(out, "aside_dc3.deltacommit")
      require(dc3.renameTo(aside), s"could not stage $dc3 aside")
      HudiMeta.maintainMorChangesStore(s, out, store, ckpt)
      require(aside.renameTo(dc3), s"could not land $aside")
      dc3.setLastModified(System.currentTimeMillis() + 1)
      HudiMeta.maintainMorChangesStore(s, out, store, ckpt)
      HudiMeta.readMorChangesStore(s, store)
        .groupBy(col("instant_time"), col("change_type"))
        .agg(count(lit(1)).cast("long").as("n"))
    }),

    // STREAMING HUDI COW CHANGE FEED by slice diff (r18): the
    // checkpointed per-commit change store across TWO arrivals —
    // pass A lands c1's bootstrap; pass B's newly-landed c2 lands
    // EXACTLY its own diff window (updates, new-group inserts,
    // old-value deletes). Oracle: the diff classification recomputed
    // relationally.
    "stream_hudi_cow_changes" -> ((s, dir) => {
      val out = Fixtures.hudicowchg.at(s, dir)
      val (store, ckpt) = freshStorePair(dir, "graft_hudicowchgstore_",
        "graft_hudicowchgck_")
      // pass A: c2's completion marker has not arrived yet
      val c2 = new java.io.File(out, ".hoodie/20240102000000000.commit")
      val aside = new java.io.File(out, "aside_c2.commit")
      require(c2.renameTo(aside), s"could not stage $c2 aside")
      HudiMeta.maintainCowChangesStore(s, out, store, ckpt)
      require(aside.renameTo(c2), s"could not land $aside")
      c2.setLastModified(System.currentTimeMillis() + 1)
      HudiMeta.maintainCowChangesStore(s, out, store, ckpt)
      HudiMeta.readCowChangesStore(s, store)
        .groupBy(col("instant_time"), col("change_type"))
        .agg(count(lit(1)).cast("long").as("n"))
    }),

    // day(ts) range pruning over the events table (30 day partitions
    // at every scale factor): tuple values are the spec's epoch-days
    // int, surfaced as real DATEs. Oracle: DuckDB recomputes each
    // file's day from its own `ts` values.
    "meta_iceberg_days_prune" -> ((s, dir) => {
      val out = Fixtures.icedays.at(s, dir)
      IcebergMeta.daysPrune(s, out, "ts", "2024-01-10", "2024-01-14")
        .select(regexp_extract(col("data_path"), "([^/]+)$", 1).as("file"),
          col("part_day"), col("survives"))
    })
  )

  val oracles: Map[String, String] = Map(

    "meta_delta_values" ->
      """SELECT CAST(count(DISTINCT id // 1000) AS BIGINT) AS n_pages,
        |  CAST(sum(id) AS BIGINT) AS value_sum,
        |  CAST(count(*) AS BIGINT) AS n_values
        |FROM read_parquet('/tmp/graft_deltavals_sf0.01/*.parquet')""".stripMargin,


    "meta_lake_census" ->
      """SELECT 'parquet' AS format, CAST(1 AS BIGINT) AS n_files,
        |  CAST(count(*) FILTER (WHERE doc_id % 3 = 0) AS BIGINT) AS total_rows
        |FROM documents
        |UNION ALL
        |SELECT 'orc', CAST(1 AS BIGINT),
        |  CAST(count(*) FILTER (WHERE doc_id % 3 = 1) AS BIGINT)
        |FROM documents
        |UNION ALL
        |SELECT 'avro', CAST(1 AS BIGINT),
        |  CAST(count(*) FILTER (WHERE doc_id % 3 = 2) AS BIGINT)
        |FROM documents""".stripMargin,


    "meta_delta_snapshot" ->
      """SELECT version, kind, n_add, n_remove, operation, op_timestamp FROM (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    'commit' AS kind,
        |    CAST(count(add) AS BIGINT) AS n_add,
        |    CAST(count(remove) AS BIGINT) AS n_remove,
        |    max(commitInfo.operation) AS operation,
        |    CAST(max(commitInfo.timestamp) AS BIGINT) AS op_timestamp
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  GROUP BY 1
        |  UNION ALL
        |  SELECT 2, 'checkpoint',
        |    (SELECT CAST(count(add) AS BIGINT) FROM
        |      read_parquet('/tmp/graft_delta_sf0.01/_delta_log/*.checkpoint.parquet')),
        |    (SELECT CAST(count(remove) AS BIGINT) FROM
        |      read_parquet('/tmp/graft_delta_sf0.01/_delta_log/*.checkpoint.parquet')),
        |    NULL, NULL
        |)""".stripMargin,


    "meta_delta_live" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) > 2
        |),
        |ckpt AS (
        |  SELECT CAST(2 AS BIGINT) AS version, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats
        |  FROM read_parquet('/tmp/graft_delta_sf0.01/_delta_log/*.checkpoint.parquet')
        |  WHERE add.path IS NOT NULL OR remove.path IS NOT NULL
        |),
        |actions AS (
        |  SELECT coalesce(apath, rpath) AS path, version,
        |    apath IS NOT NULL AS is_add, stats
        |  FROM (SELECT * FROM tail UNION ALL SELECT * FROM ckpt)
        |),
        |latest AS (
        |  SELECT path, arg_max(is_add, version) AS live,
        |    arg_max(stats, version) AS stats
        |  FROM actions GROUP BY path
        |),
        |live AS (
        |  SELECT path, CAST(json_extract(stats, '$.numRecords') AS BIGINT) AS nrec
        |  FROM latest WHERE live
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(sum(nrec) AS BIGINT) AS live_rows,
        |  (SELECT CAST(sum(num_rows) AS BIGINT)
        |    FROM parquet_file_metadata('/tmp/graft_delta_sf0.01/*.parquet') m
        |    JOIN live l ON parse_filename(m.file_name) = l.path) AS footer_rows,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM parquet_file_metadata('/tmp/graft_delta_sf0.01/*.parquet') m
        |    WHERE parse_filename(m.file_name) NOT IN (SELECT path FROM live)) AS n_dead,
        |  (SELECT CAST(sum(num_rows) AS BIGINT)
        |    FROM parquet_file_metadata('/tmp/graft_delta_sf0.01/*.parquet') m
        |    WHERE parse_filename(m.file_name) NOT IN (SELECT path FROM live)) AS dead_rows
        |FROM live""".stripMargin,


    "meta_table_census" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats,
        |    add.deletionVector.cardinality AS dv_card
        |  FROM read_json_auto('/tmp/graft_deltadv_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max({'is_add': apath IS NOT NULL, 'stats': stats,
        |      'dv': coalesce(CAST(dv_card AS BIGINT), 0)},
        |      version * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS w
        |  FROM tail GROUP BY coalesce(apath, rpath)
        |),
        |dlive AS (
        |  SELECT path,
        |    CAST(json_extract(w.stats, '$.numRecords') AS BIGINT) AS nrec,
        |    w.dv AS dv
        |  FROM latest WHERE w.is_add
        |),
        |ddisk AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_deltadv_sf0.01/*.parquet')
        |),
        |idisk AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_iceberg_sf0.01/data/*.parquet')
        |)
        |SELECT 'delta' AS format,
        |  (SELECT CAST(count(*) AS BIGINT) FROM dlive) AS n_live,
        |  (SELECT CAST(sum(nrec) - sum(dv) AS BIGINT) FROM dlive) AS live_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ddisk) AS n_disk,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM ddisk) AS disk_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM ddisk
        |    WHERE name NOT IN (SELECT path FROM dlive)) AS n_dead,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM ddisk
        |    WHERE name NOT IN (SELECT path FROM dlive)) AS dead_rows
        |UNION ALL
        |SELECT 'iceberg',
        |  CAST(6 AS BIGINT),
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM idisk
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet')
        |    - (SELECT CAST(num_rows AS BIGINT) FROM idisk
        |       WHERE name = 'del0.parquet'),
        |  (SELECT CAST(count(*) AS BIGINT) FROM idisk),
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM idisk),
        |  CAST(1 AS BIGINT),
        |  (SELECT CAST(num_rows AS BIGINT) FROM idisk
        |    WHERE name = 'f5.parquet')""".stripMargin,


    "meta_delta_partition_prune" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM read_json_auto('/tmp/graft_deltapart_sf0.01/_delta_log/*.json',
        |      format='newline_delimited', union_by_name=true)
        |    WHERE add.path IS NOT NULL) AS n_files,
        |  (SELECT CAST(count(*) AS BIGINT)
        |    FROM read_json_auto('/tmp/graft_deltapart_sf0.01/_delta_log/*.json',
        |      format='newline_delimited', union_by_name=true)
        |    WHERE add.partitionValues.lang = 'zh') AS n_pruned,
        |  (SELECT CAST(sum(CAST(json_extract(add.stats, '$.numRecords')
        |      AS BIGINT)) AS BIGINT)
        |    FROM read_json_auto('/tmp/graft_deltapart_sf0.01/_delta_log/*.json',
        |      format='newline_delimited', union_by_name=true)
        |    WHERE add.partitionValues.lang = 'zh') AS pruned_rows,
        |  (SELECT CAST(sum(num_rows) AS BIGINT)
        |    FROM parquet_file_metadata(
        |      '/tmp/graft_deltapart_sf0.01/lang=zh/*.parquet')) AS footer_rows""".stripMargin,


    "meta_delta_time_travel" ->
      """WITH acts AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS cv,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |cis AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v,
        |    max(CAST(commitInfo.timestamp AS BIGINT)) AS ts
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE commitInfo.timestamp IS NOT NULL GROUP BY 1
        |),
        |probes AS (SELECT unnest([500, 2500, 99999]) AS off),
        |resolved AS (
        |  SELECT p.off AS off, max(c.v) AS v
        |  FROM probes p JOIN cis c ON c.ts <= 1700000000000 + p.off
        |  GROUP BY p.off
        |),
        |latest AS (
        |  SELECT r.off AS off, r.v AS v, coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live,
        |    arg_max(stats, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS stats
        |  FROM resolved r JOIN acts a ON a.cv <= r.v
        |  GROUP BY r.off, r.v, coalesce(apath, rpath)
        |)
        |SELECT CAST(off AS BIGINT) AS probe_off, CAST(v AS BIGINT) AS version,
        |  CAST(count(*) FILTER (WHERE live) AS BIGINT) AS n_live,
        |  CAST(sum(CAST(json_extract(stats, '$.numRecords') AS BIGINT))
        |    FILTER (WHERE live) AS BIGINT) AS live_rows
        |FROM latest GROUP BY off, v""".stripMargin,


    "meta_delta_travel" ->
      """WITH acts AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS cv,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |vs AS (SELECT unnest([0, 1, 2, 3, 4]) AS v),
        |latest AS (
        |  SELECT vs.v AS v, coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live,
        |    arg_max(stats, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS stats
        |  FROM vs JOIN acts ON acts.cv <= vs.v
        |  GROUP BY vs.v, coalesce(apath, rpath)
        |)
        |SELECT CAST(v AS BIGINT) AS version,
        |  CAST(count(*) FILTER (WHERE live) AS BIGINT) AS n_live,
        |  CAST(sum(CAST(json_extract(stats, '$.numRecords') AS BIGINT))
        |    FILTER (WHERE live) AS BIGINT) AS live_rows
        |FROM latest GROUP BY v""".stripMargin,


    "meta_delta_v2ckpt" ->
      """WITH acts AS (
        |  SELECT CAST(2 AS BIGINT) AS cv, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats
        |  FROM read_parquet(
        |    '/tmp/graft_deltav2_sf0.01/_delta_log/_sidecars/*.parquet',
        |    union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |  UNION ALL
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS cv,
        |    add.path, remove.path, add.stats
        |  FROM read_json_auto('/tmp/graft_deltav2_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live,
        |    arg_max(cv, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS v,
        |    arg_max(stats, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS stats
        |  FROM acts GROUP BY 1
        |)
        |SELECT path, CAST(v AS BIGINT) AS version,
        |  CAST(json_extract(stats, '$.numRecords') AS BIGINT) AS num_records
        |FROM latest WHERE live""".stripMargin,


    "meta_delta_v2ckpt_json" ->
      """WITH acts AS (
        |  SELECT CAST(2 AS BIGINT) AS cv, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats
        |  FROM read_parquet(
        |    '/tmp/graft_deltav2j_sf0.01/_delta_log/_sidecars/*.parquet',
        |    union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |  UNION ALL
        |  -- the glob also reads the JSON MANIFEST (its lines carry no
        |  -- file actions and fall out below), whose extra action kinds
        |  -- make union_by_name demote some structs to JSON — extract
        |  -- through to_json(...)->> so both typings read identically
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS cv,
        |    to_json(add)->>'$.path', to_json(remove)->>'$.path',
        |    to_json(add)->>'$.stats'
        |  FROM read_json_auto('/tmp/graft_deltav2j_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(to_json(add)->>'$.path',
        |    to_json(remove)->>'$.path') IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live,
        |    arg_max(cv, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS v,
        |    arg_max(stats, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS stats
        |  FROM acts GROUP BY 1
        |)
        |SELECT path, CAST(v AS BIGINT) AS version,
        |  CAST(json_extract(stats, '$.numRecords') AS BIGINT) AS num_records
        |FROM latest WHERE live""".stripMargin,


    "meta_delta_crc_audit" ->
      """WITH crc AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    CAST(numFiles AS BIGINT) AS declared_files,
        |    CAST(tableSizeBytes AS BIGINT) AS declared_bytes
        |  FROM read_json_auto('/tmp/graft_deltacrc_sf0.01/_delta_log/*.crc',
        |    filename=true)
        |),
        |acts AS (
        |  SELECT coalesce(add.path, remove.path) AS path,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v,
        |    add.path IS NOT NULL AS is_add,
        |    CAST(add.size AS BIGINT) AS sz
        |  FROM read_json_auto('/tmp/graft_deltacrc_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |per AS (
        |  SELECT c.version, a.path,
        |    arg_max(a.is_add, a.v * 2 + CAST(a.is_add AS BIGINT)) AS live,
        |    arg_max(a.sz, a.v * 2 + CAST(a.is_add AS BIGINT)) AS sz
        |  FROM crc c JOIN acts a ON a.v <= c.version
        |  GROUP BY 1, 2
        |),
        |actuals AS (
        |  SELECT version,
        |    CAST(count(*) FILTER (WHERE live) AS BIGINT) AS actual_files,
        |    CAST(sum(sz) FILTER (WHERE live) AS BIGINT) AS actual_bytes
        |  FROM per GROUP BY 1
        |)
        |SELECT c.version, c.declared_files, c.declared_bytes,
        |  a.actual_files, a.actual_bytes,
        |  c.declared_files = a.actual_files AS files_match,
        |  c.declared_bytes = a.actual_bytes AS bytes_match
        |FROM crc c JOIN actuals a USING (version)""".stripMargin,


    "meta_delta_multickpt" ->
      """WITH acts AS (
        |  SELECT CAST(2 AS BIGINT) AS cv, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats
        |  FROM read_parquet(
        |    '/tmp/graft_deltamp_sf0.01/_delta_log/*.checkpoint.*.parquet',
        |    union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |  UNION ALL
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS cv,
        |    add.path, remove.path, add.stats
        |  FROM read_json_auto('/tmp/graft_deltamp_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live,
        |    arg_max(cv, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS v,
        |    arg_max(stats, cv * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS stats
        |  FROM acts GROUP BY 1
        |)
        |SELECT path, CAST(v AS BIGINT) AS version,
        |  CAST(json_extract(stats, '$.numRecords') AS BIGINT) AS num_records
        |FROM latest WHERE live""".stripMargin,


    "meta_delta_dv_rows" ->
      """WITH f0 AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        |  FROM read_parquet('/tmp/graft_deltadvb_sf0.01/f0.parquet')
        |),
        |f1 AS (
        |  SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS pos
        |  FROM read_parquet('/tmp/graft_deltadvb_sf0.01/f1.parquet')
        |)
        |SELECT 'f0.parquet' AS path, CAST(3 AS BIGINT) AS n_deleted,
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM f0
        |    WHERE pos IN (1, 3, 5)) AS deleted_docid_sum
        |UNION ALL
        |SELECT 'f1.parquet', CAST(2 AS BIGINT),
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM f1
        |    WHERE pos IN (0, 2))""".stripMargin,


    "meta_delta_colmap" ->
      """WITH metas AS (
        |  SELECT CAST(metaData->>'$.schemaString' AS VARCHAR) AS ss,
        |    CAST(metaData->'$.partitionColumns' AS VARCHAR[]) AS pcols,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v
        |  FROM read_json_auto('/tmp/graft_deltacm_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE metaData->>'$.id' IS NOT NULL
        |),
        |latest AS (SELECT arg_max(ss, v) AS ss, arg_max(pcols, v) AS pcols
        |  FROM metas),
        |nonpart AS (
        |  SELECT f->>'$.name' AS logical,
        |    f->>'$.metadata."delta.columnMapping.physicalName"' AS phys
        |  FROM (SELECT unnest(CAST(ss->'$.fields' AS JSON[])) AS f
        |    FROM latest)
        |  WHERE NOT list_contains((SELECT pcols FROM latest), f->>'$.name')
        |),
        |live AS (
        |  SELECT add.path AS p
        |  FROM read_json_auto('/tmp/graft_deltacm_sf0.01/_delta_log/*.json',
        |    format='newline_delimited', union_by_name=true)
        |  WHERE add.path IS NOT NULL
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f, list(DISTINCT name) AS present
        |  FROM parquet_schema('/tmp/graft_deltacm_sf0.01/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT l.p AS path,
        |  (SELECT CAST(count(*) AS INTEGER) FROM nonpart) AS n_declared,
        |  CAST(len(c.present) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list(n.logical)
        |    FILTER (WHERE NOT list_contains(c.present, n.phys))), ',')
        |    AS missing_csv
        |FROM live l JOIN cols c ON c.f = l.p, nonpart n
        |GROUP BY l.p, c.present""".stripMargin,


    "meta_delta_colmap_id" ->
      """WITH metas AS (
        |  SELECT CAST(metaData->>'$.schemaString' AS VARCHAR) AS ss,
        |    CAST(metaData->'$.partitionColumns' AS VARCHAR[]) AS pcols,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v
        |  FROM read_json_auto('/tmp/graft_deltacmid_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE metaData->>'$.id' IS NOT NULL
        |),
        |latest AS (SELECT arg_max(ss, v) AS ss, arg_max(pcols, v) AS pcols
        |  FROM metas),
        |nonpart AS (
        |  SELECT f->>'$.name' AS logical,
        |    CAST(f->'$.metadata."delta.columnMapping.id"' AS BIGINT) AS fid
        |  FROM (SELECT unnest(CAST(ss->'$.fields' AS JSON[])) AS f
        |    FROM latest)
        |  WHERE NOT list_contains((SELECT pcols FROM latest), f->>'$.name')
        |),
        |live AS (
        |  SELECT add.path AS p
        |  FROM read_json_auto('/tmp/graft_deltacmid_sf0.01/_delta_log/*.json',
        |    format='newline_delimited', union_by_name=true)
        |  WHERE add.path IS NOT NULL
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f,
        |    list(DISTINCT field_id) FILTER (WHERE field_id IS NOT NULL)
        |      AS present_ids
        |  FROM parquet_schema('/tmp/graft_deltacmid_sf0.01/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT l.p AS path,
        |  (SELECT CAST(count(*) AS INTEGER) FROM nonpart) AS n_declared,
        |  CAST(len(c.present_ids) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list(n.logical)
        |    FILTER (WHERE NOT list_contains(c.present_ids, n.fid))), ',')
        |    AS missing_csv
        |FROM live l JOIN cols c ON c.f = l.p, nonpart n
        |GROUP BY l.p, c.present_ids""".stripMargin,


    "meta_delta_colmap_prune" ->
      """WITH metas AS (
        |  SELECT CAST(metaData->>'$.schemaString' AS VARCHAR) AS ss,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v
        |  FROM read_json_auto('/tmp/graft_deltacm_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE metaData->>'$.id' IS NOT NULL
        |),
        |latest AS (SELECT arg_max(ss, v) AS ss FROM metas),
        |phys AS (
        |  SELECT f->>'$.metadata."delta.columnMapping.physicalName"' AS p
        |  FROM (SELECT unnest(CAST(ss->'$.fields' AS JSON[])) AS f
        |    FROM latest)
        |  WHERE f->>'$.name' = 'lang'
        |),
        |adds AS (
        |  SELECT json_extract_string(to_json(add.partitionValues),
        |      '$.' || (SELECT p FROM phys)) AS lang,
        |    CAST(json_extract(add.stats, '$.numRecords') AS BIGINT) AS nr
        |  FROM read_json_auto('/tmp/graft_deltacm_sf0.01/_delta_log/*.json',
        |    format='newline_delimited', union_by_name=true)
        |  WHERE add.path IS NOT NULL
        |)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM adds) AS n_files,
        |  (SELECT CAST(count(*) AS BIGINT) FROM adds WHERE lang = 'zh')
        |    AS n_pruned,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM adds WHERE lang = 'zh')
        |    AS pruned_rows""".stripMargin,


    "meta_iceberg_partition_prune" ->
      """SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_icepart_sf0.01/data/*/*.parquet')) AS n_files,
        |  (SELECT CAST(count(*) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_icepart_sf0.01/data/lang=zh/*.parquet')) AS n_pruned,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_icepart_sf0.01/data/lang=zh/*.parquet')) AS pruned_rows,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_icepart_sf0.01/data/lang=zh/*.parquet')) AS footer_rows""".stripMargin,


    "meta_iceberg_orphans" ->
      """SELECT 'stray.parquet' AS filename, 'parquet' AS format,
        |  (SELECT CAST(num_rows AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_iceorph_sf0.01/data/stray.parquet')) AS num_rows
        |UNION ALL
        |SELECT 'junk.bin', 'other', NULL""".stripMargin,


    "meta_iceberg_schema" ->
      """SELECT CAST(s."schema-id" AS INTEGER) AS schema_id,
        |  CAST(len(s.fields) AS INTEGER) AS n_fields,
        |  array_to_string([f.name FOR f IN s.fields], ',') AS field_names_csv,
        |  s."schema-id" = cur AS is_current
        |FROM (
        |  SELECT unnest(schemas) AS s, "current-schema-id" AS cur
        |  FROM read_json_auto(
        |    '/tmp/graft_iceberg_sf0.01/metadata/*.metadata.json')
        |)""".stripMargin,


    "meta_iceberg_defaults" ->
      """WITH decl AS (
        |  SELECT [f.name FOR f IN s.fields] AS names,
        |    [f.name FOR f IN list_filter(s.fields,
        |       x -> x."initial-default" IS NULL)] AS gaps
        |  FROM (
        |    SELECT unnest(schemas) AS s, "current-schema-id" AS cur
        |    FROM read_json_auto(
        |      '/tmp/graft_icebergv3d_sf0.01/metadata/*.metadata.json')
        |  )
        |  WHERE s."schema-id" = cur
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f, list(DISTINCT name) AS present
        |  FROM parquet_schema('/tmp/graft_icebergv3d_sf0.01/data/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT c.f AS path,
        |  (SELECT CAST(len(names) AS INTEGER) FROM decl) AS n_declared,
        |  CAST(len(c.present) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list_filter((SELECT gaps FROM decl),
        |    x -> NOT list_contains(c.present, x))), ',') AS missing_csv
        |FROM cols c""".stripMargin,

    "meta_iceberg_conformance" ->
      """WITH decl AS (
        |  SELECT [f.name FOR f IN s.fields] AS names
        |  FROM (
        |    SELECT unnest(schemas) AS s, "current-schema-id" AS cur
        |    FROM read_json_auto(
        |      '/tmp/graft_iceberg_sf0.01/metadata/*.metadata.json')
        |  )
        |  WHERE s."schema-id" = cur
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f, list(DISTINCT name) AS present
        |  FROM parquet_schema('/tmp/graft_iceberg_sf0.01/data/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT c.f AS path,
        |  (SELECT CAST(len(names) AS INTEGER) FROM decl) AS n_declared,
        |  CAST(len(c.present) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list_filter((SELECT names FROM decl),
        |    x -> NOT list_contains(c.present, x))), ',') AS missing_csv
        |FROM cols c
        |WHERE c.f IN ('f0.parquet', 'f1.parquet', 'f2.parquet',
        |  'f3.parquet', 'f4.parquet')""".stripMargin,


    "meta_iceberg_delete_rows" ->
      """WITH del AS (
        |  SELECT parse_filename(file_path) AS f, pos
        |  FROM read_parquet('/tmp/graft_iceberg_sf0.01/data/del0.parquet')
        |),
        |f0 AS (
        |  SELECT doc_id, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_iceberg_sf0.01/data/f0.parquet',
        |    file_row_number=true)
        |)
        |SELECT 'f0.parquet' AS path,
        |  CAST(count(*) AS BIGINT) AS n_deleted,
        |  CAST(sum(f0.doc_id) AS BIGINT) AS deleted_docid_sum
        |FROM del JOIN f0 USING (pos)
        |WHERE del.f = 'f0.parquet'""".stripMargin,


    "stream_iceberg_appends" ->
      """SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(3 AS BIGINT) AS n_files,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_iceapp_sf0.01/data/f[0-2].parquet')) AS data_rows,
        |  CAST(NULL AS BIGINT) AS delete_rows
        |UNION ALL
        |SELECT 2, 3,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_iceapp_sf0.01/data/f[34].parquet')),
        |  CAST(2 AS BIGINT)""".stripMargin,

    "meta_iceberg_spec_audit" ->
      """WITH meta AS (
        |  SELECT "default-spec-id" AS def_id, "partition-specs" AS specs
        |  FROM read_json_auto(
        |    '/tmp/graft_icespec_sf0.01/metadata/*.metadata.json')
        |),
        |spec AS (
        |  SELECT CAST(sp."spec-id" AS INT) AS spec_id,
        |    CASE WHEN len(sp.fields) = 0 THEN 'unpartitioned'
        |      ELSE array_to_string(list_transform(sp.fields, f ->
        |        concat(f.name, '=', f.transform, '(',
        |          CAST(f."source-id" AS VARCHAR), ')')), ',')
        |    END AS spec_csv,
        |    CAST(sp."spec-id" = (SELECT def_id FROM meta) AS BOOLEAN)
        |      AS is_default
        |  FROM (SELECT unnest(specs) AS sp FROM meta)
        |),
        |files AS (
        |  SELECT unnest(['f0.parquet', 'f1.parquet']) AS file,
        |    0 AS spec_id
        |  UNION ALL
        |  SELECT unnest(['p0.parquet', 'p1.parquet']), 1
        |)
        |SELECT f.file, CAST(f.spec_id AS INT) AS spec_id,
        |  s.spec_csv, s.is_default
        |FROM files f JOIN spec s ON s.spec_id = f.spec_id""".stripMargin,

    "meta_iceberg_manifest_health" ->
      """WITH sizes AS (
        |  SELECT parse_filename(filename) AS m, CAST(size AS BIGINT) AS len
        |  FROM read_blob('/tmp/graft_iceberg_sf0.01/metadata/m[023].avro')
        |)
        |SELECT 'm0.avro' AS manifest, CAST(0 AS INT) AS content,
        |  (SELECT len FROM sizes WHERE m = 'm0.avro') AS "length",
        |  CAST(3 AS BIGINT) AS n_added, CAST(0 AS BIGINT) AS n_existing,
        |  CAST(0 AS BIGINT) AS n_deleted, CAST(0 AS BIGINT) AS rewrite_group
        |UNION ALL
        |SELECT 'm2.avro', 0, (SELECT len FROM sizes WHERE m = 'm2.avro'),
        |  2, 0, 1, 0
        |UNION ALL
        |SELECT 'm3.avro', 1, (SELECT len FROM sizes WHERE m = 'm3.avro'),
        |  1, 0, 0, 0""".stripMargin,

    "meta_iceberg_expiry" ->
      """SELECT 'snapshot' AS kind, '1' AS object, CAST(-1 AS BIGINT) AS bytes
        |UNION ALL
        |SELECT 'manifest_list', 'snap-1.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icecomp_sf0.01/metadata/snap-1.avro')
        |UNION ALL
        |SELECT 'manifest', 'm0.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icecomp_sf0.01/metadata/m0.avro')
        |UNION ALL
        |SELECT 'data_file', parse_filename(filename), CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icecomp_sf0.01/data/f[01].parquet')""".stripMargin,

    "meta_iceberg_expiry_refs" ->
      """SELECT 'snapshot' AS kind, '1' AS object, CAST(-1 AS BIGINT) AS bytes
        |UNION ALL
        |SELECT 'manifest_list', 'snap-1.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexpr_sf0.01/metadata/snap-1.avro')
        |UNION ALL
        |SELECT 'manifest', 'm1.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexpr_sf0.01/metadata/m1.avro')
        |UNION ALL
        |SELECT 'data_file', 'f1.parquet', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexpr_sf0.01/data/f1.parquet')"""
        .stripMargin,

    "meta_iceberg_expiry_stats" ->
      """SELECT 'snapshot' AS kind, '1' AS object, CAST(-1 AS BIGINT) AS bytes
        |UNION ALL
        |SELECT 'manifest_list', 'snap-1.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexps_sf0.01/metadata/snap-1.avro')
        |UNION ALL
        |SELECT 'manifest', 'm0.avro', CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexps_sf0.01/metadata/m0.avro')
        |UNION ALL
        |SELECT 'data_file', parse_filename(filename), CAST(size AS BIGINT)
        |FROM read_blob('/tmp/graft_icexps_sf0.01/data/f[01].parquet')
        |UNION ALL
        |-- the declared stats entries of EXPIRED snapshot 1 only (the
        |-- snap-2 puffin survives with its snapshot); the two lists
        |-- extract separately — their struct shapes differ
        |SELECT 'statistics', parse_filename(s."statistics-path"),
        |  CAST(s."file-size-in-bytes" AS BIGINT)
        |FROM (SELECT unnest(statistics) AS s FROM read_json_auto(
        |  '/tmp/graft_icexps_sf0.01/metadata/v1.metadata.json')) t
        |WHERE CAST(t.s."snapshot-id" AS BIGINT) = 1
        |UNION ALL
        |SELECT 'statistics', parse_filename(p."statistics-path"),
        |  CAST(p."file-size-in-bytes" AS BIGINT)
        |FROM (SELECT unnest("partition-statistics") AS p FROM read_json_auto(
        |  '/tmp/graft_icexps_sf0.01/metadata/v1.metadata.json')) t
        |WHERE CAST(t.p."snapshot-id" AS BIGINT) = 1""".stripMargin,

    "meta_iceberg_snapshot_log" ->
      """WITH m AS (SELECT * FROM read_json_auto(
        |  '/tmp/graft_icesnlog_sf0.01/metadata/v1.metadata.json')),
        |log AS (
        |  SELECT CAST(e."snapshot-id" AS BIGINT) AS snapshot_id,
        |    CAST(e."timestamp-ms" AS BIGINT) AS timestamp_ms,
        |    CAST(row_number() OVER () - 1 AS BIGINT) AS idx
        |  FROM (SELECT unnest("snapshot-log") AS e FROM m) t
        |),
        |snaps AS (
        |  SELECT CAST(s."snapshot-id" AS BIGINT) AS sid
        |  FROM (SELECT unnest(snapshots) AS s FROM m) t
        |)
        |SELECT idx, snapshot_id, timestamp_ms,
        |  snapshot_id IN (SELECT sid FROM snaps) AS listed,
        |  snapshot_id = (SELECT CAST("current-snapshot-id" AS BIGINT)
        |    FROM m) AS is_current,
        |  coalesce(timestamp_ms >= lag(timestamp_ms) OVER (ORDER BY idx),
        |    TRUE) AS monotone
        |FROM log""".stripMargin,

    "meta_iceberg_ref_read" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS file,
        |    CAST(num_rows AS BIGINT) AS record_count
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_icerefrd_sf0.01/data/f[0-5].parquet')
        |)
        |-- writer contract: the v1 tag pins snap 1 (m0: f0-f2); main
        |-- pins the current snap 2 whose live data files are f0-f4
        |SELECT 'v1' AS ref, file, record_count FROM fm
        |WHERE file IN ('f0.parquet', 'f1.parquet', 'f2.parquet')
        |UNION ALL
        |SELECT 'main', file, record_count FROM fm
        |WHERE file IN ('f0.parquet', 'f1.parquet', 'f2.parquet',
        |  'f3.parquet', 'f4.parquet')""".stripMargin,

    "meta_iceberg_changelog" ->
      """SELECT doc_id, lang, 'insert' AS _change_type
        |FROM read_parquet('/tmp/graft_iceberg_sf0.01/data/f[34].parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete'
        |FROM read_parquet('/tmp/graft_iceberg_sf0.01/data/f0.parquet',
        |  file_row_number=true)
        |WHERE file_row_number IN (0, 1)
        |UNION ALL
        |SELECT doc_id, lang, 'delete'
        |FROM read_parquet('/tmp/graft_iceberg_sf0.01/data/f5.parquet')"""
        .stripMargin,

    "meta_iceberg_ref_changelog" ->
      """SELECT doc_id, lang, 'insert' AS _change_type
        |FROM read_parquet('/tmp/graft_icerefs_sf0.01/data/f[34].parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete'
        |FROM read_parquet('/tmp/graft_icerefs_sf0.01/data/f0.parquet',
        |  file_row_number=true)
        |WHERE file_row_number IN (0, 1)
        |UNION ALL
        |SELECT doc_id, lang, 'delete'
        |FROM read_parquet('/tmp/graft_icerefs_sf0.01/data/f5.parquet')"""
        .stripMargin,

    "stream_iceberg_changelog" ->
      """SELECT doc_id, lang, 'insert' AS _change_type,
        |  CAST(1 AS BIGINT) AS snapshot_id
        |FROM read_parquet('/tmp/graft_icecl_sf0.01/data/f[0-2].parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'insert', 2
        |FROM read_parquet('/tmp/graft_icecl_sf0.01/data/f[34].parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete', 2
        |FROM read_parquet('/tmp/graft_icecl_sf0.01/data/f0.parquet',
        |  file_row_number=true)
        |WHERE file_row_number IN (0, 1)
        |UNION ALL
        |SELECT doc_id, lang, 'delete', 2
        |FROM read_parquet('/tmp/graft_icecl_sf0.01/data/f5.parquet')"""
        .stripMargin,

    "meta_iceberg_changelog_transient" ->
      """SELECT doc_id, lang, 'insert' AS _change_type
        |FROM read_parquet('/tmp/graft_icetrans_sf0.01/data/fT.parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'insert'
        |FROM read_parquet('/tmp/graft_icetrans_sf0.01/data/f2.parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete'
        |FROM read_parquet('/tmp/graft_icetrans_sf0.01/data/fT.parquet')"""
        .stripMargin,

    "meta_iceberg_changelog_eq" ->
      """WITH e0 AS (SELECT DISTINCT doc_id
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq0.parquet')),
        |e1 AS (SELECT DISTINCT doc_id, lang
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq1.parquet'))
        |SELECT doc_id, lang, 'insert' AS _change_type
        |FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/f2.parquet')
        |UNION ALL
        |SELECT d.doc_id, d.lang, 'delete'
        |FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/f[01].parquet') d
        |WHERE EXISTS (SELECT 1 FROM e0
        |    WHERE e0.doc_id IS NOT DISTINCT FROM d.doc_id)
        |  OR EXISTS (SELECT 1 FROM e1
        |    WHERE e1.doc_id IS NOT DISTINCT FROM d.doc_id
        |      AND e1.lang IS NOT DISTINCT FROM d.lang)""".stripMargin,

    "meta_iceberg_changelog_dv" ->
      """WITH f0 AS (
        |  SELECT doc_id, lang, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_icedvcl_sf0.01/data/f0.parquet',
        |    file_row_number=true)
        |),
        |f1 AS (
        |  SELECT doc_id, lang, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_icedvcl_sf0.01/data/f1.parquet',
        |    file_row_number=true)
        |)
        |SELECT doc_id, lang, 'delete' AS _change_type, '1-2' AS rng
        |FROM f0 WHERE pos IN (1, 3, 5)
        |UNION ALL
        |SELECT doc_id, lang, 'delete', '1-2' FROM f1 WHERE pos IN (0, 2)
        |UNION ALL
        |SELECT doc_id, lang, 'delete', '2-3' FROM f0 WHERE pos = 7"""
        .stripMargin,

    "meta_iceberg_incremental" ->
      """WITH appended AS (
        |  SELECT parse_filename(file_name) AS file, 0 AS content,
        |    CAST(num_rows AS BIGINT) AS record_count
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_iceberg_sf0.01/data/f[34].parquet')
        |)
        |SELECT file, content, record_count FROM appended
        |UNION ALL
        |SELECT 'del0.parquet', 1, CAST(2 AS BIGINT)""".stripMargin,

    "meta_delta_log_cleanup" ->
      """SELECT CAST(0 AS BIGINT) AS version, 'commit' AS kind,
        |  '00000000000000000000.json' AS filename,
        |  CAST(36000000 AS BIGINT) AS age_ms,
        |  (SELECT CAST(size AS BIGINT) FROM read_blob(
        |    '/tmp/graft_deltaclean_sf0.01/_delta_log/00000000000000000000.json'))
        |    AS "size"
        |UNION ALL
        |SELECT 1, 'checkpoint',
        |  '00000000000000000001.checkpoint.parquet',
        |  CAST(32400000 AS BIGINT),
        |  (SELECT CAST(size AS BIGINT) FROM read_blob(
        |    '/tmp/graft_deltaclean_sf0.01/_delta_log/00000000000000000001.checkpoint.parquet'))""".stripMargin,

    "meta_delta_incremental" ->
      """SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) AS version,
        |  CASE WHEN add.path IS NOT NULL THEN 'add' ELSE 'remove' END
        |    AS change,
        |  coalesce(add.path, remove.path) AS path,
        |  CAST(json_extract(add.stats, '$.numRecords') AS BIGINT)
        |    AS num_records,
        |  CAST(add."size" AS BIGINT) AS "size"
        |FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |  filename=true, format='newline_delimited', union_by_name=true)
        |WHERE coalesce(add.path, remove.path) IS NOT NULL
        |  AND CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) BETWEEN 3 AND 4""".stripMargin,

    "meta_iceberg_eq_census" ->
      """WITH data AS (
        |  SELECT parse_filename(filename) AS file,
        |    file_row_number AS pos, doc_id, lang
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/f[01].parquet',
        |    filename=true, file_row_number=true)
        |),
        |e0 AS (SELECT DISTINCT doc_id
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq0.parquet')),
        |e1 AS (SELECT DISTINCT doc_id, lang
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq1.parquet')),
        |matched AS (
        |  SELECT DISTINCT file, pos FROM data d
        |  JOIN e0 ON d.doc_id IS NOT DISTINCT FROM e0.doc_id
        |  UNION
        |  SELECT DISTINCT file, pos FROM data d
        |  JOIN e1 ON d.doc_id IS NOT DISTINCT FROM e1.doc_id
        |    AND d.lang IS NOT DISTINCT FROM e1.lang
        |),
        |deleted AS (
        |  SELECT file, CAST(count(*) AS BIGINT) AS eq_deleted
        |  FROM matched GROUP BY 1
        |),
        |files AS (
        |  SELECT parse_filename(file_name) AS file,
        |    CAST(num_rows AS BIGINT) AS record_count
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_iceeq_sf0.01/data/f[0-2].parquet')
        |)
        |SELECT f.file, f.record_count,
        |  coalesce(d.eq_deleted, 0) AS eq_deleted,
        |  f.record_count - coalesce(d.eq_deleted, 0) AS net_rows
        |FROM files f LEFT JOIN deleted d ON d.file = f.file""".stripMargin,

    "meta_iceberg_eq_rows" ->
      """WITH data AS (
        |  SELECT parse_filename(filename) AS file, doc_id, lang
        |  -- writer contract: the deletes (sequence 2) scope to the
        |  -- sequence-1 data files f0/f1 only; f2 rides the deletes'
        |  -- own commit and survives
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/f[01].parquet',
        |    filename=true)
        |),
        |e0 AS (SELECT DISTINCT doc_id
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq0.parquet')),
        |e1 AS (SELECT DISTINCT doc_id, lang
        |  FROM read_parquet('/tmp/graft_iceeq_sf0.01/data/eq1.parquet'))
        |SELECT d.file, 'doc_id' AS eq_cols,
        |  coalesce(CAST(d.doc_id AS VARCHAR), 'NULL') AS key_csv
        |FROM data d JOIN e0 ON d.doc_id IS NOT DISTINCT FROM e0.doc_id
        |UNION ALL
        |SELECT d.file, 'doc_id,lang',
        |  concat(coalesce(CAST(d.doc_id AS VARCHAR), 'NULL'), '|',
        |    coalesce(d.lang, 'NULL'))
        |FROM data d JOIN e1 ON d.doc_id IS NOT DISTINCT FROM e1.doc_id
        |  AND d.lang IS NOT DISTINCT FROM e1.lang""".stripMargin,

    "meta_iceberg_bounds_prune" ->
      """WITH st AS (
        |  SELECT parse_filename(file_name) AS file,
        |    min(CAST(stats_min_value AS BIGINT)) AS lower,
        |    max(CAST(stats_max_value AS BIGINT)) AS upper
        |  FROM parquet_metadata('/tmp/graft_icebnd_sf0.01/data/f[0-3].parquet')
        |  WHERE path_in_schema = 'doc_id'
        |  GROUP BY 1
        |)
        |-- writer contract: the manifest bounds equal the footer stats;
        |-- nb.parquet carries no bounds and must survive any range
        |SELECT file, lower, upper,
        |  lower <= 200 AND upper >= 100 AS survives
        |FROM st
        |UNION ALL
        |SELECT 'nb.parquet', CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
        |  TRUE""".stripMargin,

    "meta_iceberg_pruned_read" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM read_parquet('/tmp/graft_icebnd_sf0.01/data/*.parquet')
        |WHERE doc_id BETWEEN 100 AND 200""".stripMargin,

    "meta_iceberg_bounds_clustering" ->
      """WITH st AS (
        |  SELECT parse_filename(file_name) AS file,
        |    min(CAST(stats_min_value AS BIGINT)) AS lower,
        |    max(CAST(stats_max_value AS BIGINT)) AS upper
        |  FROM parquet_metadata('/tmp/graft_icebnd_sf0.01/data/f[0-3].parquet')
        |  WHERE path_in_schema = 'doc_id'
        |  GROUP BY 1
        |)
        |SELECT 'doc_id' AS col_name,
        |  CAST((SELECT count(*) FROM st) + 1 AS BIGINT) AS n_files,
        |  CAST(1 AS BIGINT) AS n_unbounded,
        |  (SELECT min(lower) FROM st) AS global_min,
        |  (SELECT max(upper) FROM st) AS global_max,
        |  (SELECT CAST(sum(upper - lower) AS BIGINT) FROM st) AS span_sum,
        |  (SELECT max(upper) - min(lower) FROM st) AS global_span""".stripMargin,

    "meta_iceberg_manifest_prune" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_icesumprune_sf0.01/data/f*.parquet')
        |)
        |SELECT 'm0.avro' AS manifest, 0 AS spec_id,
        |  false AS contains_null,
        |  CAST(0 AS BIGINT) AS lower, CAST(1 AS BIGINT) AS upper,
        |  true AS survives,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN
        |    ('f0.parquet', 'f1.parquet')) AS added_rows_count
        |UNION ALL
        |SELECT 'm1.avro', 0, false, 2, 3, false,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN
        |    ('f2.parquet', 'f3.parquet'))""".stripMargin,

    "meta_iceberg_bounds_prune_str" ->
      """WITH st AS (
        |  SELECT parse_filename(filename) AS file,
        |    min(lang) AS lower, max(lang) AS upper
        |  FROM read_parquet('/tmp/graft_icesbnd_sf0.01/data/s[01].parquet',
        |    filename=true)
        |  GROUP BY 1
        |),
        |probe AS (SELECT max(lang) AS v FROM
        |  read_parquet('/tmp/graft_icesbnd_sf0.01/data/s0.parquet'))
        |SELECT st.file, st.lower, st.upper,
        |  st.lower <= (SELECT v FROM probe) AND
        |  st.upper >= (SELECT v FROM probe) AS survives
        |FROM st""".stripMargin,

    "meta_iceberg_bounds_prune_str_range" ->
      """WITH st AS (
        |  SELECT parse_filename(filename) AS file,
        |    min(lang) AS lower, max(lang) AS upper
        |  FROM read_parquet('/tmp/graft_icesbnd_sf0.01/data/s[01].parquet',
        |    filename=true)
        |  GROUP BY 1
        |),
        |probe AS (SELECT min(lang) AS lo, max(lang) AS hi FROM
        |  read_parquet('/tmp/graft_icesbnd_sf0.01/data/s1.parquet'))
        |SELECT st.file, st.lower, st.upper,
        |  st.lower <= (SELECT hi FROM probe) AND
        |  st.upper >= (SELECT lo FROM probe) AS survives
        |FROM st""".stripMargin,

    "meta_iceberg_bounds_prune_date" ->
      """SELECT parse_filename(filename) AS file,
        |  CAST(min(d) AS VARCHAR) AS lower,
        |  CAST(max(d) AS VARCHAR) AS upper,
        |  min(d) <= DATE '2020-03-15' AND max(d) >= DATE '2020-02-01'
        |    AS survives
        |FROM read_parquet('/tmp/graft_icetbnd_sf0.01/data/t[0-3].parquet',
        |  filename=true)
        |GROUP BY 1""".stripMargin,

    "meta_iceberg_bounds_prune_dec" ->
      """SELECT parse_filename(filename) AS file,
        |  CAST(min(amount) AS DOUBLE) AS lower,
        |  CAST(max(amount) AS DOUBLE) AS upper,
        |  min(amount) <= 17.25 AND max(amount) >= 10.00 AS survives
        |FROM read_parquet('/tmp/graft_icetbnd_sf0.01/data/t[0-3].parquet',
        |  filename=true)
        |GROUP BY 1""".stripMargin,

    "meta_iceberg_rollback" ->
      """SELECT 'remove' AS action, parse_filename(file_name) AS file,
        |  CAST(num_rows AS BIGINT) AS record_count
        |FROM parquet_file_metadata(
        |  '/tmp/graft_iceberg_sf0.01/data/f[34].parquet')""".stripMargin,

    "meta_delta_cdf" ->
      """SELECT doc_id, lang, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version
        |FROM read_parquet('/tmp/graft_deltacdf_sf0.01/f[01].parquet')
        |UNION ALL
        |-- v1 carries a cdc file: ITS rows are the commit's feed (the
        |-- add/remove pair is superseded)
        |SELECT doc_id, lang, _change_type, CAST(1 AS BIGINT)
        |FROM read_parquet(
        |  '/tmp/graft_deltacdf_sf0.01/_change_data/c1.parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete', CAST(2 AS BIGINT)
        |FROM read_parquet('/tmp/graft_deltacdf_sf0.01/f1.parquet')"""
        .stripMargin,

    "meta_hudi_timeline" ->
      """SELECT * FROM (VALUES
        |  ('20240101000000000', 'commit', 'completed'),
        |  ('20240101000000000', 'commit', 'inflight'),
        |  ('20240101000000000', 'commit', 'requested'),
        |  ('20240102000000000', 'commit', 'completed'),
        |  ('20240102000000000', 'commit', 'inflight'),
        |  ('20240102000000000', 'commit', 'requested'),
        |  ('20240103000000000', 'commit', 'requested'))
        |  AS t(instant_time, action, state)""".stripMargin,

    "meta_hudi_live" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  'p=0/fid0_0-0-0_20240102000000000.parquet' AS path,
        |  '20240102000000000' AS instant_time,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS declared_rows,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS footer_rows,
        |  true AS is_match
        |UNION ALL
        |-- fid1's c1 stat lies by +1 (writer contract) — must flag
        |SELECT 'fid1', 'p=0', 'p=0/fid1_0-0-0_20240101000000000.parquet',
        |  '20240101000000000',
        |  (SELECT nr + 1 FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  false
        |UNION ALL
        |SELECT 'fid2', 'p=1', 'p=1/fid2_0-0-0_20240102000000000.parquet',
        |  '20240102000000000',
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  true""".stripMargin,

    "meta_hudi_travel" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |)
        |SELECT '20240101000000000' AS instant_time,
        |  CAST(2 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet')) AS data_rows
        |UNION ALL
        |SELECT '20240102000000000', 3,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240102000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet'))""".stripMargin,

    "meta_hudi_incremental" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |)
        |-- fid1's declared numWrites lies by +1 (writer contract)
        |SELECT '20240101000000000' AS instant_time,
        |  CAST(2 AS BIGINT) AS n_files,
        |  (SELECT CAST(sum(nr) + 1 AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet')) AS declared_rows
        |UNION ALL
        |SELECT '20240102000000000', 2,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240102000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet'))""".stripMargin,

    "meta_hudi_census" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'hudi' AS format,
        |  CAST(3 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(nr) + 1 AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240102000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet')) AS live_rows,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fm) AS n_disk,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm) AS disk_rows,
        |  CAST(2 AS BIGINT) AS n_dead,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid3_0-0-0_20240103000000000.parquet')) AS dead_rows"""
        .stripMargin,

    "meta_hudi_clean" ->
      """SELECT 'fid0' AS file_id,
        |  'p=0/fid0_0-0-0_20240101000000000.parquet' AS path,
        |  '20240101000000000' AS instant_time,
        |  (SELECT CAST(num_rows AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_hudi_sf0.01/p=0/fid0_0-0-0_20240101000000000.parquet'))
        |    AS declared_rows""".stripMargin,

    "meta_hudi_orphans" ->
      """SELECT 'fid3_0-0-0_20240103000000000.parquet' AS filename,
        |  (SELECT CAST(num_rows AS BIGINT) FROM parquet_file_metadata(
        |    '/tmp/graft_hudi_sf0.01/p=1/fid3_0-0-0_20240103000000000.parquet'))
        |    AS num_rows""".stripMargin,

    "meta_hudi_source" ->
      """SELECT * FROM (VALUES
        |  ('20240101000000000', 'commit', 'completed'),
        |  ('20240101000000000', 'commit', 'inflight'),
        |  ('20240101000000000', 'commit', 'requested'),
        |  ('20240102000000000', 'commit', 'completed'),
        |  ('20240102000000000', 'commit', 'inflight'),
        |  ('20240102000000000', 'commit', 'requested'),
        |  ('20240103000000000', 'commit', 'requested'))
        |  AS t(instant_time, action, state)""".stripMargin,

    "meta_iceberg_row_lineage" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_icerl_sf0.01/data/f*.parquet')
        |),
        |n AS (SELECT
        |  (SELECT nr FROM fm WHERE name = 'f0.parquet') AS n0,
        |  (SELECT nr FROM fm WHERE name = 'f1.parquet') AS n1,
        |  (SELECT nr FROM fm WHERE name = 'f2.parquet') AS n2,
        |  (SELECT nr FROM fm WHERE name = 'f3.parquet') AS n3)
        |-- writer contract: f0 explicit 0; f1/f2 inherit from the
        |-- manifest's first_row_id (n0); f3 dips 3 into f2's range and
        |-- ends past next-row-id
        |SELECT 'f0.parquet' AS file, CAST(0 AS BIGINT) AS first_row_id,
        |  n0 AS record_count, true AS disjoint, true AS within_next FROM n
        |UNION ALL
        |SELECT 'f1.parquet', n0, n1, true, true FROM n
        |UNION ALL
        |SELECT 'f2.parquet', n0 + n1, n2, true, true FROM n
        |UNION ALL
        |SELECT 'f3.parquet', n0 + n1 + n2 - 3, n3, false, false FROM n"""
        .stripMargin,

    "meta_iceberg_months_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    CAST(date_trunc('month', min(ts)) AS DATE) AS part_month
        |  FROM read_parquet('/tmp/graft_icemon_sf0.01/data/u*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_month,
        |  part_month BETWEEN date_trunc('month', DATE '2023-08-15')
        |    AND date_trunc('month', DATE '2023-11-02') AS survives
        |FROM d""".stripMargin,

    "meta_iceberg_hours_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    min(ts) AS part_hour
        |  FROM read_parquet('/tmp/graft_icehr_sf0.01/data/u*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_hour,
        |  part_hour BETWEEN TIMESTAMPTZ '2024-03-01 06:00:00+00'
        |    AND TIMESTAMPTZ '2024-03-02 03:00:00+00' AS survives
        |FROM d""".stripMargin,

    "meta_iceberg_years_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    CAST(year(min(ts)) AS INT) AS part_year
        |  FROM read_parquet('/tmp/graft_iceyr_sf0.01/data/u*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_year, part_year = 2024 AS survives
        |FROM d""".stripMargin,

    "meta_iceberg_row_ids" ->
      """WITH t AS (
        |  SELECT CAST(sum(num_rows) AS BIGINT) AS n
        |  FROM parquet_file_metadata('/tmp/graft_icerlc_sf0.01/data/f*.parquet')
        |)
        |SELECT n AS n_rows, n AS n_distinct_ids,
        |  CAST(0 AS BIGINT) AS min_id, n - 1 AS max_id,
        |  CAST(n * (n - 1) // 2 AS BIGINT) AS sum_ids
        |FROM t""".stripMargin,

    "meta_hudi_partition_prune" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM read_parquet(
        |  '/tmp/graft_hudi_sf0.01/p=1/fid2_0-0-0_20240102000000000.parquet')"""
        .stripMargin,

    "compaction_plan_hudi" ->
      """WITH f AS (
        |  SELECT regexp_extract(filename, '(p=[^/]+)/', 1) AS part,
        |    parse_filename(filename) AS path, CAST(size AS BIGINT) AS sz
        |  FROM read_blob('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |  WHERE parse_filename(filename) IN (
        |    'fid0_0-0-0_20240102000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet')
        |),
        |t AS (SELECT 3 * min(sz) AS tgt FROM f),
        |small AS (SELECT * FROM f WHERE sz < (SELECT tgt FROM t)),
        |g AS (
        |  SELECT part, path, sz,
        |    COALESCE(sum(sz) OVER (PARTITION BY part ORDER BY path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM small
        |)
        |SELECT part AS partition_key,
        |  CAST(floor(bef / (SELECT tgt FROM t)) AS BIGINT) AS group_id,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(sz) AS BIGINT) AS group_bytes,
        |  min(path) AS first_path, max(path) AS last_path
        |FROM g GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,

    "meta_hudi_schema" ->
      """SELECT regexp_extract(parse_filename(filename),
        |    '^(\d+)', 1) AS instant_time,
        |  CAST(len(CAST(CAST(extraMetadata->>'$.schema' AS VARCHAR)
        |    ->>'$.fields[*].name' AS VARCHAR[])) AS INTEGER) AS n_fields,
        |  array_to_string(CAST(CAST(extraMetadata->>'$.schema' AS VARCHAR)
        |    ->>'$.fields[*].name' AS VARCHAR[]), ',') AS fields_csv
        |FROM read_json_auto('/tmp/graft_hudi_sf0.01/.hoodie/*.commit',
        |  filename=true)""".stripMargin,

    "meta_hudi_conformance" ->
      """WITH decl AS (
        |  SELECT CAST(CAST(arg_max(extraMetadata->>'$.schema',
        |      parse_filename(filename)) AS VARCHAR)
        |    ->>'$.fields[*].name' AS VARCHAR[]) AS names
        |  FROM read_json_auto('/tmp/graft_hudi_sf0.01/.hoodie/*.commit',
        |    filename=true)
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f, list(DISTINCT name) AS present
        |  FROM parquet_schema('/tmp/graft_hudi_sf0.01/p=*/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT c.f AS path,
        |  CAST(len(d.names) AS INTEGER) AS n_declared,
        |  CAST(len(c.present) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list_filter(d.names,
        |    x -> NOT list_contains(c.present, x))), ',') AS missing_csv
        |FROM decl d, cols c
        |WHERE c.f IN ('fid0_0-0-0_20240102000000000.parquet',
        |  'fid1_0-0-0_20240101000000000.parquet',
        |  'fid2_0-0-0_20240102000000000.parquet')""".stripMargin,

    "meta_hudi_clustered_census" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudicl_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'fid3' AS file_id, 'p=0' AS partition_path,
        |  'p=0/fid3_0-0-0_20240103000000000.parquet' AS path,
        |  '20240103000000000' AS instant_time,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid3_0-0-0_20240103000000000.parquet')
        |    AS declared_rows,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid3_0-0-0_20240103000000000.parquet')
        |    AS footer_rows,
        |  true AS is_match
        |UNION ALL
        |SELECT 'fid2', 'p=1', 'p=1/fid2_0-0-0_20240102000000000.parquet',
        |  '20240102000000000',
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  true""".stripMargin,

    "meta_hudi_clustered_travel" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudicl_sf0.01/p=*/*.parquet')
        |)
        |SELECT '20240102000000000' AS instant_time,
        |  CAST(3 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet')) AS data_rows
        |UNION ALL
        |SELECT '20240103000000000', 2,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid3_0-0-0_20240103000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet'))""".stripMargin,

    "meta_hudi_mor_timeline" ->
      """SELECT * FROM (VALUES
        |  ('20240101000000000', 'deltacommit', 'completed'),
        |  ('20240101000000000', 'deltacommit', 'inflight'),
        |  ('20240101000000000', 'deltacommit', 'requested'),
        |  ('20240102000000000', 'deltacommit', 'completed'),
        |  ('20240102000000000', 'deltacommit', 'inflight'),
        |  ('20240102000000000', 'deltacommit', 'requested'),
        |  ('20240103000000000', 'deltacommit', 'completed'),
        |  ('20240103000000000', 'deltacommit', 'inflight'),
        |  ('20240103000000000', 'deltacommit', 'requested'),
        |  ('20240104000000000', 'deltacommit', 'requested'),
        |  ('20240105000000000', 'commit', 'inflight'))
        |AS t(instant_time, action, state)""".stripMargin,

    "meta_hudi_mor_groups" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimor_sf0.01/p=*/*.parquet')
        |)
        |-- fid1's declared numWrites lies by +1 (writer contract)
        |SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  '20240101000000000' AS base_instant,
        |  'p=0/fid0_0-0-0_20240101000000000.parquet' AS base_path,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240101000000000.parquet')
        |    AS declared_base_rows,
        |  CAST(2 AS BIGINT) AS n_logs, CAST(5 AS BIGINT) AS declared_log_rows,
        |  'p=0/.fid0_20240101000000000.log.1_0-0-0,' ||
        |    'p=0/.fid0_20240101000000000.log.2_0-0-0' AS log_paths_csv
        |UNION ALL
        |SELECT 'fid1', 'p=0', '20240101000000000',
        |  'p=0/fid1_0-0-0_20240101000000000.parquet',
        |  (SELECT CAST(nr + 1 AS BIGINT) FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  0, 0, ''
        |UNION ALL
        |SELECT 'fid2', 'p=1', '20240102000000000',
        |  'p=1/fid2_0-0-0_20240102000000000.parquet',
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  0, 0, ''""".stripMargin,

    "stream_hudi_mor_appends" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_hudimorstream_sf0.01/p=*/*.parquet')
        |)
        |-- fid1's declared numWrites lies by +1 (writer contract)
        |SELECT '20240101000000000' AS instant_time,
        |  CAST(2 AS BIGINT) AS n_writes, CAST(0 AS BIGINT) AS n_logs,
        |  (SELECT CAST(sum(nr) + 1 AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet')) AS declared_rows
        |UNION ALL
        |-- dc2: fid0's first log append (3 declared) + fid2's base
        |SELECT '20240102000000000', 2, 1,
        |  (SELECT CAST(nr + 3 AS BIGINT) FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet')
        |UNION ALL
        |-- dc3: the second log append alone
        |SELECT '20240103000000000', 1, 1, CAST(2 AS BIGINT)""".stripMargin,

    "meta_hudi_mor_incremental" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimor_sf0.01/p=*/*.parquet')
        |)
        |-- fid1's declared numWrites lies by +1 (writer contract)
        |SELECT '20240101000000000' AS to_instant,
        |  CAST(2 AS BIGINT) AS n_writes, CAST(0 AS BIGINT) AS n_logs,
        |  (SELECT CAST(sum(nr) + 1 AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet')) AS declared_rows
        |UNION ALL
        |-- (dc1, dc3]: two fid0 log appends (3 + 2 declared rows) plus
        |-- fid2's base insert
        |SELECT '20240103000000000', 3, 2,
        |  (SELECT CAST(sum(nr) + 5 AS BIGINT) FROM fm WHERE name IN (
        |    'fid2_0-0-0_20240102000000000.parquet'))""".stripMargin,

    "meta_hudi_mor_census" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimor_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  '20240101000000000' AS base_instant,
        |  'p=0/fid0_0-0-0_20240101000000000.parquet' AS base_path,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240101000000000.parquet')
        |    AS declared_base_rows,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240101000000000.parquet')
        |    AS footer_base_rows,
        |  true AS base_match,
        |  CAST(2 AS BIGINT) AS n_logs, CAST(5 AS BIGINT) AS declared_log_rows
        |UNION ALL
        |SELECT 'fid1', 'p=0', '20240101000000000',
        |  'p=0/fid1_0-0-0_20240101000000000.parquet',
        |  (SELECT CAST(nr + 1 AS BIGINT) FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  false, 0, 0
        |UNION ALL
        |SELECT 'fid2', 'p=1', '20240102000000000',
        |  'p=1/fid2_0-0-0_20240102000000000.parquet',
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  true, 0, 0""".stripMargin,

    "meta_hudi_metadata_files" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimd_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'p=0' AS partition_path,
        |  'fid0_0-0-0_20240102000000000.parquet' AS file_name,
        |  true AS is_listed,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS listed_size,
        |  true AS is_declared, true AS declared_match
        |UNION ALL
        |SELECT 'p=0', 'fid1_0-0-0_20240101000000000.parquet', true,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  true, true
        |UNION ALL
        |-- stale: the superseded c1 slice still listed (size 77)
        |SELECT 'p=0', 'fid0_0-0-0_20240101000000000.parquet', true,
        |  CAST(77 AS BIGINT), false, false
        |UNION ALL
        |-- lagging: fid2 declared live but unlisted
        |SELECT 'p=1', 'fid2_0-0-0_20240102000000000.parquet', false,
        |  CAST(NULL AS BIGINT), true, false""".stripMargin,

    "meta_hudi_mor_clean" ->
      """SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  'p=0/fid0_0-0-0_20240101000000000.parquet' AS path,
        |  false AS is_log, '20240101000000000' AS base_instant,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 = 0) AS declared_rows,
        |  'superseded' AS reason
        |UNION ALL
        |SELECT 'fid0', 'p=0', 'p=0/.fid0_20240101000000000.log.1_0-0-0',
        |  true, '20240101000000000', CAST(3 AS BIGINT), 'superseded'
        |UNION ALL
        |SELECT 'fid0', 'p=0', 'p=0/.fid0_20240101000000000.log.2_0-0-0',
        |  true, '20240101000000000', CAST(2 AS BIGINT), 'superseded'"""
        .stripMargin,

    "meta_hudi_metadata_hfile" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimdh_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'p=0' AS partition_path,
        |  'fid0_0-0-0_20240102000000000.parquet' AS file_name,
        |  true AS is_listed,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS listed_size,
        |  true AS is_declared, true AS declared_match
        |UNION ALL
        |SELECT 'p=0', 'fid1_0-0-0_20240101000000000.parquet', true,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  true, true
        |UNION ALL
        |-- stale: the superseded c1 slice still listed (size 77)
        |SELECT 'p=0', 'fid0_0-0-0_20240101000000000.parquet', true,
        |  CAST(77 AS BIGINT), false, false
        |UNION ALL
        |-- lagging: fid2 declared live but unlisted
        |SELECT 'p=1', 'fid2_0-0-0_20240102000000000.parquet', false,
        |  CAST(NULL AS BIGINT), true, false""".stripMargin,

    "meta_hudi_metadata_hfile_log" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudimdhl_sf0.01/p=*/*.parquet')
        |)
        |-- the log catches the index up: stale entry tombstoned (row
        |-- gone entirely), lagging fid2 added — all three live files
        |-- fully matched
        |SELECT 'p=0' AS partition_path,
        |  'fid0_0-0-0_20240102000000000.parquet' AS file_name,
        |  true AS is_listed,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS listed_size,
        |  true AS is_declared, true AS declared_match
        |UNION ALL
        |SELECT 'p=0', 'fid1_0-0-0_20240101000000000.parquet', true,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  true, true
        |UNION ALL
        |SELECT 'p=1', 'fid2_0-0-0_20240102000000000.parquet', true,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  true, true""".stripMargin,

    "meta_hudi_v1x_timeline" ->
      """SELECT * FROM (VALUES
        |  ('20240101000000000', '20240101000000500', 'commit', 'completed'),
        |  ('20240101000000000', NULL, 'commit', 'inflight'),
        |  ('20240101000000000', NULL, 'commit', 'requested'),
        |  ('20240102000000000', '20240102000000500', 'commit', 'completed'),
        |  ('20240102000000000', NULL, 'commit', 'inflight'),
        |  ('20240102000000000', NULL, 'commit', 'requested'),
        |  ('20240103000000000', NULL, 'commit', 'requested'))
        |AS t(instant_time, completion_time, action, state)""".stripMargin,

    "meta_hudi_v1x_census" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_hudiv1x_sf0.01/p=*/*.parquet')
        |)
        |SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  'p=0/fid0_0-0-0_20240102000000000.parquet' AS path,
        |  '20240102000000000' AS instant_time,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS declared_rows,
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid0_0-0-0_20240102000000000.parquet')
        |    AS footer_rows,
        |  true AS is_match
        |UNION ALL
        |-- fid1's c1 stat lies by +1 (writer contract) — must flag
        |SELECT 'fid1', 'p=0', 'p=0/fid1_0-0-0_20240101000000000.parquet',
        |  '20240101000000000',
        |  (SELECT nr + 1 FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid1_0-0-0_20240101000000000.parquet'),
        |  false
        |UNION ALL
        |SELECT 'fid2', 'p=1', 'p=1/fid2_0-0-0_20240102000000000.parquet',
        |  '20240102000000000',
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  (SELECT nr FROM fm
        |    WHERE name = 'fid2_0-0-0_20240102000000000.parquet'),
        |  true""".stripMargin,

    "meta_hudi_cow_changes" ->
      """-- updated survivors: new values
        |SELECT 'upsert' AS change_type,
        |  CAST(doc_id AS VARCHAR) AS record_key,
        |  doc_id, lang, n_chars + 100 AS n_chars
        |FROM documents WHERE doc_id % 12 = 0 AND doc_id % 15 <> 0
        |UNION ALL
        |-- the new file group's rows
        |SELECT 'upsert', CAST(doc_id AS VARCHAR), doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 3 = 2
        |UNION ALL
        |-- dropped keys: deletes carry their OLD values
        |SELECT 'delete', CAST(doc_id AS VARCHAR), doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 15 = 0""".stripMargin,

    "stream_hudi_cow_changes" ->
      """-- c1 bootstrap: fid0 (%3==0) + fid1 (%3==1) rows as upserts
        |SELECT '20240101000000000' AS instant_time,
        |  'upsert' AS change_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 < 2) AS n
        |UNION ALL
        |-- c2: updated survivors + fid2's new rows
        |SELECT '20240102000000000', 'upsert',
        |  (SELECT CAST(count(*) FILTER
        |      (WHERE doc_id % 12 = 0 AND doc_id % 15 <> 0)
        |     + count(*) FILTER (WHERE doc_id % 3 = 2) AS BIGINT)
        |   FROM documents)
        |UNION ALL
        |SELECT '20240102000000000', 'delete',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 15 = 0)""".stripMargin,

    "meta_hudi_mor_changes" ->
      """SELECT 'upsert' AS change_type,
        |  CAST(doc_id AS VARCHAR) AS record_key,
        |  doc_id, lang, n_chars
        |FROM documents WHERE doc_id % 3 = 2
        |UNION ALL
        |-- resurrected by the dc3 update (final event wins)
        |SELECT 'upsert', CAST(doc_id AS VARCHAR), doc_id, 'zz',
        |  CAST(-5 AS BIGINT)
        |FROM documents WHERE doc_id % 60 = 0
        |UNION ALL
        |SELECT 'upsert', CAST(doc_id + 9000000 AS VARCHAR),
        |  doc_id + 9000000, 'xx', CAST(7 AS BIGINT)
        |FROM documents WHERE doc_id % 150 = 0
        |UNION ALL
        |-- final-event deletes: key-only rows
        |SELECT 'delete', CAST(doc_id AS VARCHAR), CAST(NULL AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 15 = 0 AND doc_id % 60 <> 0"""
        .stripMargin,

    "meta_hudi_mor_composite" ->
      """WITH g AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 2 = 0
        |)
        |-- update survivors: %20 keys not killed by the %50 deletes
        |SELECT 'upsert' AS change_type,
        |  concat('doc_id:', CAST(doc_id AS VARCHAR), ',lang:',
        |    CASE WHEN lang IS NULL THEN '__null__'
        |         WHEN lang = '' THEN '__empty__'
        |         ELSE lang END) AS record_key,
        |  doc_id, lang, CAST(n_chars + 1000 AS BIGINT) AS n_chars
        |FROM g WHERE doc_id % 20 = 0 AND doc_id % 50 <> 0
        |UNION ALL
        |-- final-event deletes: composite-rendered key-only rows
        |SELECT 'delete',
        |  concat('doc_id:', CAST(doc_id AS VARCHAR), ',lang:',
        |    CASE WHEN lang IS NULL THEN '__null__'
        |         WHEN lang = '' THEN '__empty__'
        |         ELSE lang END),
        |  CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT)
        |FROM g WHERE doc_id % 50 = 0""".stripMargin,

    "meta_hudi_cdc_changes" ->
      """-- fid0 resolves from the cdc images: u on %20==0, i on the
        |-- %100==0 inserts, d on %20==10; fid1 from the derived path
        |SELECT 'upsert' AS change_type,
        |  CAST(doc_id AS VARCHAR) AS record_key,
        |  doc_id, lang, CAST(n_chars + 7 AS BIGINT) AS n_chars
        |FROM documents WHERE doc_id % 20 = 0
        |UNION ALL
        |SELECT 'upsert', CAST(doc_id + 7000000 AS VARCHAR),
        |  doc_id + 7000000, 'cc', CAST(9 AS BIGINT)
        |FROM documents WHERE doc_id % 100 = 0
        |UNION ALL
        |SELECT 'delete', CAST(doc_id AS VARCHAR), CAST(NULL AS BIGINT),
        |  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT)
        |FROM documents WHERE doc_id % 20 = 10
        |UNION ALL
        |SELECT 'upsert', CAST(doc_id AS VARCHAR), doc_id, 'dv',
        |  CAST(n_chars + 3 AS BIGINT)
        |FROM documents WHERE doc_id % 10 = 5""".stripMargin,

    "meta_hudi_mor_precombine" ->
      """-- precombine: the %10 keys hold the HIGH-ordering update
        |-- ('hi'/500, arrived first); delete-only keys (%25 ∧ ¬%50) die
        |SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0 THEN 'hi' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 10 = 0 THEN CAST(500 AS BIGINT)
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id % 25 <> 0 OR doc_id % 50 = 0""".stripMargin,

    "stream_hudi_mor_changes" ->
      """SELECT '20240101000000000' AS instant_time,
        |  'upsert' AS change_type,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 < 2) AS n
        |UNION ALL
        |-- dc2: the n_chars+100 updates, the log inserts, fid2's base
        |SELECT '20240102000000000', 'upsert',
        |  (SELECT CAST(count(*) FILTER (WHERE doc_id % 30 = 0)
        |     + count(*) FILTER (WHERE doc_id % 150 = 0)
        |     + count(*) FILTER (WHERE doc_id % 3 = 2) AS BIGINT)
        |   FROM documents)
        |UNION ALL
        |-- dc3: resurrections + final-event deletes
        |SELECT '20240103000000000', 'upsert',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 60 = 0)
        |UNION ALL
        |SELECT '20240103000000000', 'delete',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 15 = 0 AND doc_id % 60 <> 0)""".stripMargin,

    "meta_hudi_mor_rows" ->
      """WITH g AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 3 = 0
        |)
        |-- fid0's merge: U2 (%60 -> 'zz'/-5) over U1 (%30 -> +100)
        |-- over base; %15 deletes unless resurrected by U2; 4 inserts
        |SELECT doc_id,
        |  CASE WHEN doc_id % 60 = 0 THEN 'zz' ELSE lang END AS lang,
        |  CASE WHEN doc_id % 60 = 0 THEN CAST(-5 AS BIGINT)
        |       WHEN doc_id % 30 = 0 THEN n_chars + 100
        |       ELSE n_chars END AS n_chars
        |FROM g WHERE doc_id % 15 <> 0 OR doc_id % 60 = 0
        |UNION ALL
        |SELECT doc_id + 9000000, 'xx', CAST(7 AS BIGINT)
        |FROM g WHERE doc_id % 150 = 0
        |UNION ALL
        |-- fid1/fid2 are log-free: their base rows pass through
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 3 <> 0""".stripMargin,

    "meta_hudi_mor_merged_census" ->
      """WITH g AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0)
        |SELECT 'fid0' AS file_id, 'p=0' AS partition_path,
        |  '20240101000000000' AS base_instant,
        |  (SELECT CAST(count(*) AS BIGINT) FROM g) AS declared_base_rows,
        |  CAST(2 AS BIGINT) AS n_logs,
        |  (SELECT CAST(count(*) FILTER (WHERE doc_id % 30 = 0)
        |     + count(*) FILTER (WHERE doc_id % 150 = 0)
        |     + count(*) FILTER (WHERE doc_id % 15 = 0)
        |     + count(*) FILTER (WHERE doc_id % 60 = 0) AS BIGINT)
        |   FROM g) AS declared_log_rows,
        |  (SELECT CAST(count(*)
        |     - count(*) FILTER (WHERE doc_id % 15 = 0 AND doc_id % 60 <> 0)
        |     + count(*) FILTER (WHERE doc_id % 150 = 0) AS BIGINT)
        |   FROM g) AS merged_rows
        |UNION ALL
        |SELECT 'fid1', 'p=0', '20240101000000000',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 = 1),
        |  0, 0,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 = 1)
        |UNION ALL
        |SELECT 'fid2', 'p=1', '20240102000000000',
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 = 2),
        |  0, 0,
        |  (SELECT CAST(count(*) AS BIGINT) FROM documents
        |    WHERE doc_id % 3 = 2)""".stripMargin,

    "stream_hudi_appends" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_hudistream_sf0.01/p=*/*.parquet')
        |)
        |-- fid1's declared numWrites lies by +1 (writer contract)
        |SELECT '20240101000000000' AS instant_time,
        |  CAST(2 AS BIGINT) AS n_files,
        |  (SELECT CAST(sum(nr) + 1 AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240101000000000.parquet',
        |    'fid1_0-0-0_20240101000000000.parquet')) AS declared_rows
        |UNION ALL
        |SELECT '20240102000000000', 2,
        |  (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN (
        |    'fid0_0-0-0_20240102000000000.parquet',
        |    'fid2_0-0-0_20240102000000000.parquet'))""".stripMargin,

    "stream_delta_cdf" ->
      """SELECT doc_id, lang, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version
        |FROM read_parquet('/tmp/graft_deltacdfstream_sf0.01/f[01].parquet')
        |UNION ALL
        |SELECT doc_id, lang, _change_type, CAST(1 AS BIGINT)
        |FROM read_parquet(
        |  '/tmp/graft_deltacdfstream_sf0.01/_change_data/c1.parquet')
        |UNION ALL
        |SELECT doc_id, lang, 'delete', CAST(2 AS BIGINT)
        |FROM read_parquet('/tmp/graft_deltacdfstream_sf0.01/f1.parquet')"""
        .stripMargin,

    "meta_delta_cdf_dv" ->
      """WITH f0 AS (
        |  SELECT doc_id, lang, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_deltacdfdv_sf0.01/f0.parquet',
        |    file_row_number=true)
        |),
        |f1 AS (
        |  SELECT doc_id, lang, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_deltacdfdv_sf0.01/f1.parquet',
        |    file_row_number=true)
        |)
        |SELECT doc_id, lang, 'insert' AS _change_type,
        |  CAST(0 AS BIGINT) AS _commit_version FROM f0
        |UNION ALL
        |SELECT doc_id, lang, 'insert', 0 FROM f1
        |UNION ALL
        |SELECT doc_id, lang, 'delete', 1 FROM f0 WHERE pos IN (1, 3)
        |UNION ALL
        |SELECT doc_id, lang, 'delete', 2 FROM f0 WHERE pos = 5
        |UNION ALL
        |SELECT doc_id, lang, 'delete', 3 FROM f1 WHERE pos <> 0"""
        .stripMargin,

    "meta_delta_restore" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS path,
        |    CAST(num_rows AS BIGINT) AS num_records
        |  FROM parquet_file_metadata('/tmp/graft_delta_sf0.01/f[0-6].parquet')
        |)
        |-- writer contract: live(1) = f0-f3; live(latest 4) = f0,f3-f6
        |SELECT 're_add' AS action, path, num_records FROM fm
        |WHERE path IN ('f1.parquet', 'f2.parquet')
        |UNION ALL
        |SELECT 'remove', path, num_records FROM fm
        |WHERE path IN ('f4.parquet', 'f5.parquet', 'f6.parquet')""".stripMargin,

    "meta_delta_row_tracking" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS path,
        |    CAST(num_rows AS BIGINT) AS num_records
        |  FROM parquet_file_metadata('/tmp/graft_deltart_sf0.01/f[0-2].parquet')
        |),
        |n AS (SELECT
        |  (SELECT num_records FROM fm WHERE path = 'f0.parquet') AS n0,
        |  (SELECT num_records FROM fm WHERE path = 'f1.parquet') AS n1)
        |SELECT 'f0.parquet' AS path, CAST(0 AS BIGINT) AS base_row_id,
        |  CAST(0 AS BIGINT) AS row_commit_version,
        |  (SELECT num_records FROM fm WHERE path = 'f0.parquet')
        |    AS num_records, TRUE AS disjoint
        |UNION ALL
        |SELECT 'f1.parquet', (SELECT n0 FROM n), 0,
        |  (SELECT num_records FROM fm WHERE path = 'f1.parquet'), TRUE
        |UNION ALL
        |-- the planted overlap: f2's base dips 3 ids into f1's range
        |SELECT 'f2.parquet', (SELECT n0 + n1 - 3 FROM n), 1,
        |  (SELECT num_records FROM fm WHERE path = 'f2.parquet'), FALSE"""
        .stripMargin,

    "meta_iceberg_metrics_audit" ->
      """WITH nulls AS (
        |  SELECT parse_filename(filename) AS file,
        |    CAST(count(*) AS BIGINT) AS nr,
        |    CAST(count(*) - count(lang) AS BIGINT) AS nn
        |  FROM read_parquet('/tmp/graft_icemet_sf0.01/data/f[0-2].parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |-- writer contract: f0 declares the truth, f1's null count lies
        |-- by +1, f2 declares nothing (null declared, null matches)
        |SELECT file,
        |  CASE WHEN file <> 'f2.parquet' THEN nr END AS declared_values,
        |  CASE WHEN file = 'f0.parquet' THEN nn
        |       WHEN file = 'f1.parquet' THEN nn + 1 END AS declared_nulls,
        |  nr AS actual_values, nn AS actual_nulls,
        |  CASE WHEN file <> 'f2.parquet' THEN TRUE END AS values_match,
        |  CASE WHEN file = 'f0.parquet' THEN TRUE
        |       WHEN file = 'f1.parquet' THEN FALSE END AS nulls_match
        |FROM nulls""".stripMargin,

    "meta_iceberg_merged_census" ->
      """WITH data AS (
        |  SELECT parse_filename(filename) AS file,
        |    file_row_number AS pos, doc_id, lang
        |  FROM read_parquet('/tmp/graft_icemrg_sf0.01/data/f[01].parquet',
        |    filename=true, file_row_number=true)
        |),
        |e0 AS (SELECT DISTINCT doc_id
        |  FROM read_parquet('/tmp/graft_icemrg_sf0.01/data/eq0.parquet')),
        |e1 AS (SELECT DISTINCT doc_id, lang
        |  FROM read_parquet('/tmp/graft_icemrg_sf0.01/data/eq1.parquet')),
        |pd AS (SELECT parse_filename(file_path) AS file, pos
        |  FROM read_parquet('/tmp/graft_icemrg_sf0.01/data/pd0.parquet')),
        |matched AS (
        |  SELECT DISTINCT file, pos FROM data d
        |  JOIN e0 ON d.doc_id IS NOT DISTINCT FROM e0.doc_id
        |  UNION
        |  SELECT DISTINCT file, pos FROM data d
        |  JOIN e1 ON d.doc_id IS NOT DISTINCT FROM e1.doc_id
        |    AND d.lang IS NOT DISTINCT FROM e1.lang
        |  UNION
        |  SELECT file, pos FROM pd
        |),
        |deleted AS (
        |  SELECT file, CAST(count(*) AS BIGINT) AS deleted
        |  FROM matched GROUP BY 1
        |),
        |files AS (
        |  SELECT parse_filename(file_name) AS file,
        |    CAST(num_rows AS BIGINT) AS record_count
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_icemrg_sf0.01/data/f[0-2].parquet')
        |)
        |SELECT f.file, f.record_count,
        |  coalesce(d.deleted, 0) AS deleted,
        |  f.record_count - coalesce(d.deleted, 0) AS net_rows
        |FROM files f LEFT JOIN deleted d ON d.file = f.file""".stripMargin,

    "meta_iceberg_sort_order" ->
      """WITH m AS (SELECT * FROM read_json_auto(
        |  '/tmp/graft_icesort_sf0.01/metadata/v1.metadata.json')),
        |names AS (
        |  SELECT f.id AS id, f.name AS name
        |  FROM (SELECT unnest(s.fields) AS f
        |    FROM (SELECT unnest(schemas) AS s FROM m) t
        |    WHERE t.s."schema-id" =
        |      (SELECT "current-schema-id" FROM m)) u
        |),
        |ord AS (
        |  SELECT t.o."order-id" AS oid, t.o.fields AS fields
        |  FROM (SELECT unnest("sort-orders") AS o FROM m) t
        |  WHERE t.o."order-id" = (SELECT "default-sort-order-id" FROM m)
        |),
        |csv AS (
        |  SELECT CAST((SELECT oid FROM ord) AS INTEGER) AS sort_order_id,
        |    string_agg(jf.f.transform || '(' || n.name || ') ' ||
        |      jf.f.direction || ' ' || jf.f."null-order", ',')
        |      AS sort_csv
        |  FROM (SELECT unnest(fields) AS f FROM ord) jf
        |  JOIN names n ON jf.f."source-id" = n.id
        |),
        |stats AS (
        |  SELECT parse_filename(file_name) AS file,
        |    min(CAST(stats_min_value AS BIGINT)) AS fmin,
        |    max(CAST(stats_max_value AS BIGINT)) AS fmax,
        |    count(*) = count(stats_min_value) AND
        |      count(*) = count(stats_max_value) AS bounded
        |  FROM parquet_metadata('/tmp/graft_icesort_sf0.01/data/*.parquet')
        |  WHERE path_in_schema = 'doc_id'
        |  GROUP BY 1
        |),
        |win AS (
        |  SELECT file, fmin, fmax, bounded,
        |    max(CASE WHEN bounded THEN fmax END) OVER (
        |      ORDER BY fmin, fmax, file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_cummax
        |  FROM stats
        |)
        |SELECT w.file, c.sort_order_id, c.sort_csv,
        |  CASE WHEN w.bounded THEN w.fmin END AS file_min,
        |  CASE WHEN w.bounded THEN w.fmax END AS file_max,
        |  CASE WHEN NOT w.bounded THEN NULL
        |    WHEN w.prev_cummax IS NULL THEN TRUE
        |    ELSE w.fmin >= w.prev_cummax END AS in_order
        |FROM win w CROSS JOIN csv c""".stripMargin,

    "meta_iceberg_eq_part_rows" ->
      """WITH fa AS (SELECT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/*/fA.parquet')),
        |fb AS (SELECT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/*/fB.parquet')),
        |ep AS (SELECT DISTINCT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/eq_part.parquet')),
        |eg AS (SELECT DISTINCT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/eq_glob.parquet'))
        |-- writer contract: eq_part is partition-scoped to lang=A so it
        |-- joins fA ONLY (the matching keys in fB must survive);
        |-- eq_glob is a global delete and reaches both partitions
        |SELECT 'fA.parquet' AS file, 'key' AS eq_cols,
        |  coalesce(CAST(fa.key AS VARCHAR), 'NULL') AS key_csv
        |FROM fa JOIN ep ON fa.key IS NOT DISTINCT FROM ep.key
        |UNION ALL
        |SELECT 'fA.parquet', 'key', coalesce(CAST(fa.key AS VARCHAR), 'NULL')
        |FROM fa JOIN eg ON fa.key IS NOT DISTINCT FROM eg.key
        |UNION ALL
        |SELECT 'fB.parquet', 'key', coalesce(CAST(fb.key AS VARCHAR), 'NULL')
        |FROM fb JOIN eg ON fb.key IS NOT DISTINCT FROM eg.key""".stripMargin,

    "meta_iceberg_eq_part_census" ->
      """WITH fa AS (SELECT key, file_row_number AS pos FROM read_parquet(
        |  '/tmp/graft_iceeqp_sf0.01/data/*/fA.parquet', file_row_number=true)),
        |fb AS (SELECT key, file_row_number AS pos FROM read_parquet(
        |  '/tmp/graft_iceeqp_sf0.01/data/*/fB.parquet', file_row_number=true)),
        |ep AS (SELECT DISTINCT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/eq_part.parquet')),
        |eg AS (SELECT DISTINCT key FROM
        |  read_parquet('/tmp/graft_iceeqp_sf0.01/data/eq_glob.parquet')),
        |da AS (
        |  SELECT DISTINCT pos FROM fa
        |  JOIN ep ON fa.key IS NOT DISTINCT FROM ep.key
        |  UNION
        |  SELECT DISTINCT pos FROM fa
        |  JOIN eg ON fa.key IS NOT DISTINCT FROM eg.key
        |),
        |db AS (SELECT DISTINCT pos FROM fb
        |  JOIN eg ON fb.key IS NOT DISTINCT FROM eg.key),
        |files AS (
        |  SELECT parse_filename(file_name) AS file,
        |    CAST(num_rows AS BIGINT) AS record_count
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_iceeqp_sf0.01/data/*/f*.parquet')
        |)
        |SELECT f.file, f.record_count,
        |  CAST(CASE WHEN f.file = 'fA.parquet'
        |    THEN (SELECT count(*) FROM da)
        |    ELSE (SELECT count(*) FROM db) END AS BIGINT) AS eq_deleted,
        |  f.record_count - CASE WHEN f.file = 'fA.parquet'
        |    THEN (SELECT count(*) FROM da)
        |    ELSE (SELECT count(*) FROM db) END AS net_rows
        |FROM files f""".stripMargin,

    "meta_iceberg_dv_rows" ->
      """WITH f0 AS (
        |  SELECT doc_id, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_icedv_sf0.01/data/f0.parquet',
        |    file_row_number=true)
        |),
        |f1 AS (
        |  SELECT doc_id, file_row_number AS pos
        |  FROM read_parquet('/tmp/graft_icedv_sf0.01/data/f1.parquet',
        |    file_row_number=true)
        |)
        |SELECT 'f0.parquet' AS path, CAST(3 AS BIGINT) AS n_deleted,
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM f0
        |    WHERE pos IN (1, 3, 5)) AS deleted_docid_sum
        |UNION ALL
        |SELECT 'f1.parquet', CAST(2 AS BIGINT),
        |  (SELECT CAST(sum(doc_id) AS BIGINT) FROM f1
        |    WHERE pos IN (0, 2))""".stripMargin,


    "compaction_plan_delta" ->
      """WITH acts AS (
        |  SELECT coalesce(add.path, remove.path) AS path,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v,
        |    add.path IS NOT NULL AS is_add,
        |    CAST(add.size AS BIGINT) AS sz
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT path,
        |    arg_max(is_add, v * 2 + CAST(is_add AS BIGINT)) AS live,
        |    arg_max(sz, v * 2 + CAST(is_add AS BIGINT)) AS sz
        |  FROM acts GROUP BY 1
        |),
        |t AS (SELECT 3 * min(sz) AS tgt FROM latest WHERE live),
        |small AS (
        |  SELECT path, sz FROM latest
        |  WHERE live AND sz < (SELECT tgt FROM t)
        |),
        |g AS (
        |  SELECT path, sz,
        |    COALESCE(sum(sz) OVER (ORDER BY path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM small
        |)
        |SELECT '' AS partition_key,
        |  CAST(floor(bef / (SELECT tgt FROM t)) AS BIGINT) AS group_id,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(sz) AS BIGINT) AS group_bytes,
        |  min(path) AS first_path, max(path) AS last_path
        |FROM g GROUP BY 2 HAVING count(*) >= 2""".stripMargin,


    "compaction_plan_iceberg" ->
      """WITH f AS (
        |  SELECT regexp_extract(filename, 'lang=([^/]+)/', 1) AS lang,
        |    parse_filename(filename) AS path, CAST(size AS BIGINT) AS sz
        |  FROM read_blob('/tmp/graft_icepart_sf0.01/data/*/*.parquet')
        |),
        |t AS (SELECT 3 * min(sz) AS tgt FROM f),
        |small AS (SELECT * FROM f WHERE sz < (SELECT tgt FROM t)),
        |g AS (
        |  SELECT lang, path, sz,
        |    COALESCE(sum(sz) OVER (PARTITION BY lang ORDER BY path
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
        |  FROM small
        |)
        |SELECT 'lang=' || lang AS partition_key,
        |  CAST(floor(bef / (SELECT tgt FROM t)) AS BIGINT) AS group_id,
        |  CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(sz) AS BIGINT) AS group_bytes,
        |  min(path) AS first_path, max(path) AS last_path
        |FROM g GROUP BY 1, 2 HAVING count(*) >= 2""".stripMargin,


    "meta_delta_stats_prune" ->
      """SELECT add.path AS path,
        |  CAST(json_extract(add.stats, '$.numRecords') AS BIGINT)
        |    AS num_records,
        |  CAST(json_extract(add.stats, '$.minValues.doc_id') AS BIGINT)
        |    AS min_value,
        |  CAST(json_extract(add.stats, '$.maxValues.doc_id') AS BIGINT)
        |    AS max_value,
        |  json_extract(add.stats, '$.minValues.doc_id') IS NOT NULL AND
        |    json_extract(add.stats, '$.maxValues.doc_id') IS NOT NULL
        |    AS has_bounds,
        |  (json_extract(add.stats, '$.minValues.doc_id') IS NULL OR
        |   json_extract(add.stats, '$.maxValues.doc_id') IS NULL) OR NOT
        |    (CAST(json_extract(add.stats, '$.maxValues.doc_id') AS BIGINT)
        |       < 100 OR
        |     CAST(json_extract(add.stats, '$.minValues.doc_id') AS BIGINT)
        |       > 299) AS selected
        |FROM read_json_auto('/tmp/graft_deltasp_sf0.01/_delta_log/*.json',
        |  format='newline_delimited', union_by_name=true)
        |WHERE add.path IS NOT NULL""".stripMargin,


    "meta_delta_ict" ->
      """WITH acts AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v,
        |    add.path AS apath,
        |    CAST(json_extract(add.stats, '$.numRecords') AS BIGINT) AS nr,
        |    COALESCE(CAST(commitInfo.inCommitTimestamp AS BIGINT),
        |      CAST(commitInfo.timestamp AS BIGINT)) AS cts
        |  FROM read_json_auto('/tmp/graft_deltaict_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |),
        |vts AS (
        |  SELECT v, max(cts) AS ts FROM acts WHERE cts IS NOT NULL GROUP BY 1
        |),
        |probes AS (SELECT unnest([5000, 15000, 99999]) AS off),
        |resolved AS (
        |  SELECT p.off AS probe_off, max(t.v) AS version
        |  FROM probes p JOIN vts t ON t.ts <= 1700000000000 + p.off
        |  GROUP BY 1
        |)
        |SELECT CAST(r.probe_off AS BIGINT) AS probe_off,
        |  CAST(r.version AS BIGINT) AS version,
        |  CAST(count(a.apath) AS BIGINT) AS n_live,
        |  CAST(sum(a.nr) AS BIGINT) AS live_rows
        |FROM resolved r JOIN acts a ON a.apath IS NOT NULL
        |  AND a.v <= r.version
        |GROUP BY 1, 2""".stripMargin,


    "meta_delta_domains" ->
      """WITH dm AS (
        |  SELECT domainMetadata.domain AS domain,
        |    domainMetadata.configuration AS configuration,
        |    domainMetadata.removed AS removed,
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS v
        |  FROM read_json_auto('/tmp/graft_deltadm_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE domainMetadata.domain IS NOT NULL
        |)
        |SELECT domain, arg_max(configuration, v) AS configuration,
        |  arg_max(removed, v) AS removed,
        |  CAST(max(v) AS BIGINT) AS version
        |FROM dm GROUP BY 1""".stripMargin,


    "meta_iceberg_summary_audit2" ->
      """WITH decl AS (
        |  SELECT CAST(s."snapshot-id" AS BIGINT) AS snapshot_id,
        |    CAST(s.summary."added-data-files" AS BIGINT)
        |      AS declared_added_files,
        |    CAST(s.summary."added-records" AS BIGINT)
        |      AS declared_added_records
        |  FROM (SELECT unnest(snapshots) AS s FROM read_json_auto(
        |    '/tmp/graft_icesum2_sf0.01/metadata/*.metadata.json'))
        |),
        |fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_icesum2_sf0.01/data/f*.parquet')
        |),
        |actual AS (
        |  SELECT CAST(1 AS BIGINT) AS snapshot_id,
        |    CAST(3 AS BIGINT) AS actual_added_files,
        |    (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN
        |      ('f0.parquet', 'f1.parquet', 'f2.parquet'))
        |      AS actual_added_records
        |  UNION ALL
        |  SELECT 2, 2,
        |    (SELECT CAST(sum(nr) AS BIGINT) FROM fm WHERE name IN
        |      ('f3.parquet', 'f4.parquet'))
        |),
        |wide AS (
        |  SELECT d.snapshot_id, d.declared_added_files,
        |    d.declared_added_records, a.actual_added_files,
        |    a.actual_added_records
        |  FROM decl d JOIN actual a USING (snapshot_id)
        |)
        |SELECT snapshot_id, 'added_files' AS metric,
        |  declared_added_files AS declared,
        |  actual_added_files AS actual,
        |  declared_added_files = actual_added_files AS is_match
        |FROM wide
        |UNION ALL
        |SELECT snapshot_id, 'added_records',
        |  declared_added_records, actual_added_records,
        |  declared_added_records = actual_added_records
        |FROM wide""".stripMargin,


    "meta_iceberg_summary_inputs" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name,
        |    CAST(num_rows AS BIGINT) AS nr
        |  FROM parquet_file_metadata('/tmp/graft_icesum2_sf0.01/data/f*.parquet')
        |),
        |decl AS (
        |  SELECT CAST(s."snapshot-id" AS BIGINT) AS sid,
        |    CAST(s.summary."added-data-files" AS BIGINT) AS df,
        |    CAST(s.summary."added-records" AS BIGINT) AS dr
        |  FROM (SELECT unnest(snapshots) AS s FROM read_json_auto(
        |    '/tmp/graft_icesum2_sf0.01/metadata/*.metadata.json'))
        |),
        |r1 AS (SELECT CAST(sum(nr) AS BIGINT) AS v FROM fm WHERE name IN
        |  ('f0.parquet', 'f1.parquet', 'f2.parquet')),
        |r2 AS (SELECT CAST(sum(nr) AS BIGINT) AS v FROM fm WHERE name IN
        |  ('f3.parquet', 'f4.parquet')),
        |ml(item, metric, value) AS (VALUES
        |  ('list:1/m0.avro', 'added_files_count', CAST(3 AS BIGINT)),
        |  ('list:1/m0.avro', 'added_rows_count', (SELECT v FROM r1)),
        |  ('list:1/m0.avro', 'added_snapshot_id', 1),
        |  ('list:1/m0.avro', 'content', 0),
        |  ('list:2/m0.avro', 'added_files_count', 3),
        |  ('list:2/m0.avro', 'added_rows_count', (SELECT v FROM r1)),
        |  ('list:2/m0.avro', 'added_snapshot_id', 1),
        |  ('list:2/m0.avro', 'content', 0),
        |  ('list:2/m2.avro', 'added_files_count', 2),
        |  ('list:2/m2.avro', 'added_rows_count', (SELECT v FROM r2)),
        |  ('list:2/m2.avro', 'added_snapshot_id', 2),
        |  ('list:2/m2.avro', 'content', 0),
        |  ('list:2/m3.avro', 'added_files_count', 1),
        |  ('list:2/m3.avro', 'added_rows_count', 2),
        |  ('list:2/m3.avro', 'added_snapshot_id', 2),
        |  ('list:2/m3.avro', 'content', 1))
        |SELECT 'file:' || name AS item, 'footer_rows' AS metric,
        |  nr AS value FROM fm
        |UNION ALL
        |SELECT 'snap:' || sid, 'declared_added_files', df FROM decl
        |UNION ALL
        |SELECT 'snap:' || sid, 'declared_added_records', dr FROM decl
        |UNION ALL
        |SELECT item, metric, value FROM ml""".stripMargin,


    "meta_iceberg_ndv_audit" ->
      """WITH decl AS (
        |  SELECT unnest(s."blob-metadata") AS b,
        |    CAST(s."snapshot-id" AS BIGINT) AS sid
        |  FROM (SELECT unnest(statistics) AS s FROM read_json_auto(
        |    '/tmp/graft_icendv_sf0.01/metadata/*.metadata.json'))
        |),
        |data AS (
        |  SELECT doc_id, lang
        |  FROM read_parquet('/tmp/graft_icendv_sf0.01/data/f[0-4].parquet')
        |)
        |SELECT 'ndv-2.puffin' AS filename, d.sid AS stats_snapshot_id,
        |  CASE WHEN d.b.fields = [2] THEN 'lang' ELSE 'doc_id' END
        |    AS fields_csv,
        |  CAST(d.b.properties.ndv AS BIGINT) AS declared_ndv,
        |  CAST(CASE WHEN d.b.fields = [2]
        |    THEN (SELECT count(DISTINCT lang) FROM data)
        |    ELSE (SELECT count(DISTINCT doc_id) FROM data) END AS BIGINT)
        |    AS sketch_ndv,
        |  CAST(d.b.properties.ndv AS BIGINT) =
        |    CASE WHEN d.b.fields = [2]
        |      THEN (SELECT count(DISTINCT lang) FROM data)
        |      ELSE (SELECT count(DISTINCT doc_id) FROM data) END
        |    AS ndv_match
        |FROM decl d""".stripMargin,


    "meta_iceberg_ndv_zstd" ->
      """WITH decl AS (
        |  SELECT unnest(s."blob-metadata") AS b,
        |    CAST(s."snapshot-id" AS BIGINT) AS sid
        |  FROM (SELECT unnest(statistics) AS s FROM read_json_auto(
        |    '/tmp/graft_icendvz_sf0.01/metadata/*.metadata.json'))
        |),
        |data AS (
        |  SELECT doc_id, lang
        |  FROM read_parquet('/tmp/graft_icendvz_sf0.01/data/f[0-4].parquet')
        |)
        |SELECT 'ndv-2.puffin' AS filename, d.sid AS stats_snapshot_id,
        |  CASE WHEN d.b.fields = [2] THEN 'lang' ELSE 'doc_id' END
        |    AS fields_csv,
        |  CAST(d.b.properties.ndv AS BIGINT) AS declared_ndv,
        |  CAST(CASE WHEN d.b.fields = [2]
        |    THEN (SELECT count(DISTINCT lang) FROM data)
        |    ELSE (SELECT count(DISTINCT doc_id) FROM data) END AS BIGINT)
        |    AS sketch_ndv,
        |  CAST(d.b.properties.ndv AS BIGINT) =
        |    CASE WHEN d.b.fields = [2]
        |      THEN (SELECT count(DISTINCT lang) FROM data)
        |      ELSE (SELECT count(DISTINCT doc_id) FROM data) END
        |    AS ndv_match
        |FROM decl d""".stripMargin,

    "meta_iceberg_metadata_log" ->
      """WITH ml AS (
        |  SELECT parse_filename(e."metadata-file") AS filename,
        |    CAST(e."timestamp-ms" AS BIGINT) AS timestamp_ms
        |  FROM (
        |    SELECT unnest("metadata-log") AS e
        |    FROM read_json_auto(
        |      '/tmp/graft_icemlog_sf0.01/metadata/v2.metadata.json')
        |  )
        |),
        |disk AS (
        |  SELECT parse_filename(file) AS f
        |  FROM glob('/tmp/graft_icemlog_sf0.01/metadata/*')
        |)
        |SELECT ml.filename, ml.timestamp_ms,
        |  EXISTS (SELECT 1 FROM disk WHERE disk.f = ml.filename) AS "exists"
        |FROM ml""".stripMargin,


    "meta_delta_last_ckpt" ->
      """WITH ptr AS (
        |  SELECT CAST(version AS BIGINT) AS dv
        |  FROM read_json_auto(
        |    '/tmp/graft_delta_sf0.01/_delta_log/_last_checkpoint')
        |),
        |names AS (
        |  SELECT parse_filename(file) AS f
        |  FROM glob('/tmp/graft_delta_sf0.01/_delta_log/*')
        |),
        |cks AS (
        |  SELECT CAST(regexp_extract(f, '^0*(\d+)', 1) AS BIGINT) AS v
        |  FROM names
        |  WHERE regexp_matches(f, '^\d{20}\.checkpoint(\..+)?\.parquet$')
        |),
        |commits AS (
        |  SELECT CAST(regexp_extract(f, '^0*(\d+)', 1) AS BIGINT) AS v
        |  FROM names WHERE regexp_matches(f, '^\d{20}\.json$')
        |)
        |SELECT p.dv AS declared_version,
        |  CAST(NULL AS BIGINT) AS declared_parts,
        |  (SELECT CAST(count(*) AS BIGINT) FROM cks WHERE v = p.dv)
        |    AS parts_found,
        |  (SELECT count(*) FROM cks WHERE v = p.dv) > 0
        |    AS checkpoint_complete,
        |  COALESCE((SELECT max(v) FROM cks), -1) > p.dv
        |    AS newer_checkpoint_exists,
        |  (SELECT CAST(count(*) AS BIGINT) FROM commits WHERE v > p.dv)
        |    AS commits_after
        |FROM ptr p""".stripMargin,


    "meta_iceberg_refs" ->
      """WITH m AS (
        |  SELECT refs, "current-snapshot-id" AS cur, snapshots
        |  FROM read_json_auto(
        |    '/tmp/graft_icerefs_sf0.01/metadata/*.metadata.json')
        |),
        |r AS (
        |  SELECT k AS ref_name,
        |    json_extract_string(j, '$.' || k || '.type') AS ref_type,
        |    CAST(json_extract(j, '$.' || k || '."snapshot-id"') AS BIGINT)
        |      AS snapshot_id,
        |    cur
        |  FROM (
        |    SELECT unnest(json_keys(to_json(refs))) AS k,
        |      to_json(refs) AS j, cur
        |    FROM m
        |  )
        |),
        |ids AS (
        |  SELECT CAST(s."snapshot-id" AS BIGINT) AS id
        |  FROM (SELECT unnest(snapshots) AS s FROM m)
        |)
        |SELECT ref_name, ref_type, snapshot_id,
        |  snapshot_id IN (SELECT id FROM ids) AS resolves,
        |  snapshot_id = cur AS is_current
        |FROM r""".stripMargin,


    "meta_iceberg_partition_stats" ->
      """WITH decl AS (
        |  SELECT 'lang=' || "partition".lang AS partition_key,
        |    CAST(data_file_count AS BIGINT) AS declared_files,
        |    CAST(data_record_count AS BIGINT) AS declared_rows,
        |    CAST(total_data_file_size_in_bytes AS BIGINT) AS declared_bytes
        |  FROM read_parquet(
        |    '/tmp/graft_icepstats_sf0.01/metadata/partition-stats-1.parquet')
        |),
        |rowsfc AS (
        |  SELECT regexp_extract(file_name, 'lang=([^/]+)/', 1) AS lang,
        |    CAST(count(*) AS BIGINT) AS actual_files,
        |    CAST(sum(num_rows) AS BIGINT) AS actual_rows
        |  FROM parquet_file_metadata(
        |    '/tmp/graft_icepstats_sf0.01/data/*/*.parquet')
        |  GROUP BY 1
        |),
        |bytes AS (
        |  SELECT regexp_extract(filename, 'lang=([^/]+)/', 1) AS lang,
        |    CAST(sum(size) AS BIGINT) AS actual_bytes
        |  FROM read_blob('/tmp/graft_icepstats_sf0.01/data/*/*.parquet')
        |  GROUP BY 1
        |)
        |SELECT d.partition_key,
        |  d.declared_files, d.declared_rows, d.declared_bytes,
        |  r.actual_files, r.actual_rows, b.actual_bytes,
        |  d.declared_files = r.actual_files AS files_match,
        |  d.declared_rows = r.actual_rows AS rows_match,
        |  d.declared_bytes = b.actual_bytes AS bytes_match
        |FROM decl d
        |JOIN rowsfc r ON 'lang=' || r.lang = d.partition_key
        |JOIN bytes b ON b.lang = r.lang""".stripMargin,


    "meta_iceberg_puffin_stats" ->
      """WITH raw AS (
        |  SELECT hex(content) AS h, octet_length(content) AS n,
        |    parse_filename(filename) AS f
        |  FROM read_blob('/tmp/graft_icestats_sf0.01/metadata/*.puffin')
        |),
        |sz AS (
        |  SELECT f, h, n,
        |    (strpos('0123456789ABCDEF', substr(h,(n-12)*2+1,1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(h,(n-12)*2+2,1))-1
        |    + ((strpos('0123456789ABCDEF', substr(h,(n-11)*2+1,1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(h,(n-11)*2+2,1))-1) * 256
        |    + ((strpos('0123456789ABCDEF', substr(h,(n-10)*2+1,1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(h,(n-10)*2+2,1))-1) * 65536
        |    + ((strpos('0123456789ABCDEF', substr(h,(n-9)*2+1,1))-1)*16
        |      + strpos('0123456789ABCDEF', substr(h,(n-9)*2+2,1))-1) * 16777216
        |      AS psize
        |  FROM raw
        |),
        |payload AS (
        |  SELECT f,
        |    decode(unhex(substr(h, (n-12-psize)*2+1, psize*2))) AS js
        |  FROM sz
        |),
        |actual AS (
        |  SELECT f,
        |    CAST(unnest(range(len(CAST(js->'$.blobs' AS JSON[]))))
        |      AS INTEGER) AS blob_idx,
        |    unnest(CAST(js->'$.blobs' AS JSON[])) AS b
        |  FROM payload
        |),
        |decl AS (
        |  SELECT parse_filename(s."statistics-path") AS f,
        |    CAST(s."snapshot-id" AS BIGINT) AS stats_snapshot_id,
        |    s."blob-metadata" AS bm
        |  FROM (SELECT unnest(statistics) AS s FROM read_json_auto(
        |    '/tmp/graft_icestats_sf0.01/metadata/*.metadata.json'))
        |)
        |SELECT a.f AS filename, d.stats_snapshot_id, a.blob_idx,
        |  a.b->>'$.type' AS blob_type,
        |  CAST(a.b->'$."snapshot-id"' AS BIGINT) AS blob_snapshot_id,
        |  CAST(a.b->'$."sequence-number"' AS BIGINT) AS sequence_number,
        |  CAST(a.b->'$.offset' AS BIGINT) AS "offset",
        |  CAST(a.b->'$.length' AS BIGINT) AS "length",
        |  d.bm[a.blob_idx+1]."type" AS declared_type,
        |  COALESCE(d.bm[a.blob_idx+1]."type" = (a.b->>'$.type') AND
        |    CAST(d.bm[a.blob_idx+1]."snapshot-id" AS BIGINT) =
        |      CAST(a.b->'$."snapshot-id"' AS BIGINT), false)
        |    AS declared_match
        |FROM actual a JOIN decl d USING (f)""".stripMargin,


    "stream_iceberg_live" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_icestream_sf0.01/data/*.parquet')
        |)
        |SELECT CAST(5 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet') AS live_rows,
        |  CAST(7 AS BIGINT) AS n_entries,
        |  (SELECT CAST(num_rows AS BIGINT) FROM fm
        |    WHERE name = 'del0.parquet') AS deleted_positions""".stripMargin,


    "meta_iceberg_time_travel" ->
      """WITH snaps AS (
        |  SELECT CAST(s."snapshot-id" AS BIGINT) AS id,
        |    CAST(s."timestamp-ms" AS BIGINT) AS ts
        |  FROM (SELECT unnest(snapshots) AS s FROM read_json_auto(
        |    '/tmp/graft_iceberg_sf0.01/metadata/*.metadata.json'))
        |),
        |probes AS (SELECT unnest([500, 99999]) AS off),
        |resolved AS (
        |  SELECT p.off AS off, arg_max(id, ts) AS id
        |  FROM probes p JOIN snaps s ON s.ts <= 1700000000000 + p.off
        |  GROUP BY p.off
        |),
        |fm AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_iceberg_sf0.01/data/*.parquet')
        |)
        |SELECT CAST(off AS BIGINT) AS probe_off, id AS snapshot_id,
        |  CAST(CASE WHEN id = 1 THEN 3 ELSE 5 END AS BIGINT) AS n_live,
        |  CASE WHEN id = 1 THEN (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |      WHERE name IN ('f0.parquet', 'f1.parquet', 'f2.parquet'))
        |    ELSE (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |      WHERE name LIKE 'f%' AND name <> 'f5.parquet') END AS data_rows
        |FROM resolved""".stripMargin,


    "meta_iceberg_travel" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_iceberg_sf0.01/data/*.parquet')
        |)
        |SELECT CAST(1 AS BIGINT) AS snapshot_id, CAST(3 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |    WHERE name IN ('f0.parquet', 'f1.parquet', 'f2.parquet'))
        |    AS data_rows
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), CAST(5 AS BIGINT),
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet')""".stripMargin,


"stream_delta_live" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats,
        |    add.deletionVector.cardinality AS dv_card
        |  FROM read_json_auto('/tmp/graft_deltastream_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) > 2
        |),
        |ckpt AS (
        |  SELECT CAST(2 AS BIGINT) AS version, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats, NULL AS dv_card
        |  FROM read_parquet('/tmp/graft_deltastream_sf0.01/_delta_log/*.checkpoint.parquet')
        |  WHERE add.path IS NOT NULL OR remove.path IS NOT NULL
        |),
        |actions AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    version * 2 + CAST(apath IS NOT NULL AS BIGINT) AS rank,
        |    apath IS NOT NULL AS is_add, stats, dv_card
        |  FROM (SELECT * FROM tail UNION ALL SELECT * FROM ckpt)
        |),
        |latest AS (
        |  SELECT path,
        |    arg_max({'is_add': is_add, 'stats': stats,
        |      'dv': coalesce(CAST(dv_card AS BIGINT), 0)}, rank) AS w
        |  FROM actions GROUP BY path
        |),
        |live AS (
        |  SELECT path,
        |    CAST(json_extract(w.stats, '$.numRecords') AS BIGINT) AS nrec,
        |    w.dv AS dv
        |  FROM latest WHERE w.is_add
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(sum(nrec) AS BIGINT) AS physical_rows,
        |  CAST(count(*) FILTER (WHERE dv > 0) AS BIGINT) AS n_dv_files,
        |  CAST(sum(dv) AS BIGINT) AS dv_deleted,
        |  CAST(sum(nrec) - sum(dv) AS BIGINT) AS net_rows
        |FROM live""".stripMargin,


    "meta_delta_vacuum" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath,
        |    remove.deletionTimestamp AS dts
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max({'is_add': apath IS NOT NULL, 'dts': dts},
        |      version * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS w
        |  FROM tail GROUP BY 1
        |),
        |tomb AS (
        |  SELECT path, CAST(w.dts AS BIGINT) AS deleted_at FROM latest
        |  WHERE NOT w.is_add AND CAST(w.dts AS BIGINT) <= 1700000010000 - 7500
        |)
        |SELECT t.path AS path, t.deleted_at AS deleted_at,
        |  CAST(1700000010000 - t.deleted_at AS BIGINT) AS age_ms,
        |  CAST(m.num_rows AS BIGINT) AS num_rows
        |FROM tomb t JOIN (
        |  SELECT parse_filename(file_name) AS f, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_delta_sf0.01/*.parquet')) m
        |  ON m.f = t.path""".stripMargin,


    "meta_delta_conformance" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE coalesce(add.path, remove.path) IS NOT NULL
        |),
        |latest AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    arg_max(apath IS NOT NULL,
        |      version * 2 + CAST(apath IS NOT NULL AS BIGINT)) AS live
        |  FROM tail GROUP BY 1
        |),
        |live AS (SELECT path FROM latest WHERE live),
        |decl AS (
        |  SELECT CAST(CAST(arg_max(metaData->>'$.schemaString',
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT)) AS VARCHAR)->>'$.fields[*].name' AS VARCHAR[]) AS names
        |  FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE metaData->>'$.id' IS NOT NULL
        |),
        |cols AS (
        |  SELECT parse_filename(file_name) AS f, list(DISTINCT name) AS present
        |  FROM parquet_schema('/tmp/graft_delta_sf0.01/*.parquet')
        |  WHERE num_children IS NULL OR num_children = 0
        |  GROUP BY 1
        |)
        |SELECT l.path AS path,
        |  CAST(len(d.names) AS INTEGER) AS n_declared,
        |  CAST(len(c.present) AS INTEGER) AS n_present,
        |  array_to_string(list_sort(list_filter(d.names,
        |    x -> NOT list_contains(c.present, x))), ',') AS missing_csv
        |FROM live l, decl d JOIN cols c ON c.f = l.path""".stripMargin,


    "meta_delta_txn" ->
      """SELECT txn.appId AS app_id,
        |  arg_max(CAST(txn.version AS BIGINT),
        |    CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT)) AS txn_version,
        |  max(CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT)) AS table_version
        |FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |  filename=true, format='newline_delimited', union_by_name=true)
        |WHERE txn.appId IS NOT NULL
        |GROUP BY txn.appId""".stripMargin,


    "meta_delta_schema" ->
      """SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) AS version,
        |  metaData->>'$.id' AS schema_id,
        |  CAST(json_array_length(CAST(metaData->>'$.schemaString' AS VARCHAR),
        |    '$.fields') AS INTEGER) AS n_fields,
        |  array_to_string(CAST(CAST(metaData->>'$.schemaString' AS VARCHAR)
        |    ->>'$.fields[*].name' AS VARCHAR[]), ',') AS field_names_csv,
        |  coalesce(array_to_string(CAST(metaData->'$.partitionColumns'
        |    AS VARCHAR[]), ','), '') AS partition_columns_csv
        |FROM read_json_auto('/tmp/graft_delta_sf0.01/_delta_log/*.json',
        |  filename=true, format='newline_delimited', union_by_name=true)
        |WHERE metaData->>'$.id' IS NOT NULL""".stripMargin,


    "meta_delta_protocol" ->
      """WITH protos AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version, protocol AS p
        |  FROM read_json_auto('/tmp/graft_deltaproto_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE protocol.minReaderVersion IS NOT NULL
        |),
        |latest AS (SELECT arg_max(p, version) AS p FROM protos)
        |SELECT CAST(p->>'$.minReaderVersion' AS INTEGER) AS min_reader_version,
        |  CAST(p->>'$.minWriterVersion' AS INTEGER) AS min_writer_version,
        |  array_to_string(CAST(p->'$.readerFeatures' AS VARCHAR[]), ',')
        |    AS reader_features_csv,
        |  array_to_string(CAST(p->'$.writerFeatures' AS VARCHAR[]), ',')
        |    AS writer_features_csv,
        |  (CAST(p->>'$.minReaderVersion' AS INTEGER) <= 2 OR list_has_all(
        |    ['deletionVectors', 'v2Checkpoint', 'columnMapping',
        |     'timestampNtz', 'typeWidening', 'vacuumProtocolCheck'],
        |    coalesce(CAST(p->'$.readerFeatures' AS VARCHAR[]),
        |      CAST([] AS VARCHAR[])))) AS supported
        |FROM latest""".stripMargin,


    "meta_delta_dv" ->
      """WITH tail AS (
        |  SELECT CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |      AS BIGINT) AS version,
        |    add.path AS apath, remove.path AS rpath, add.stats AS stats,
        |    add.deletionVector.cardinality AS dv_card
        |  FROM read_json_auto('/tmp/graft_deltadv_sf0.01/_delta_log/*.json',
        |    filename=true, format='newline_delimited', union_by_name=true)
        |  WHERE CAST(regexp_extract(parse_filename(filename), '^0*(\d+)', 1)
        |    AS BIGINT) > 2
        |),
        |ckpt AS (
        |  SELECT CAST(2 AS BIGINT) AS version, add.path AS apath,
        |    remove.path AS rpath, add.stats AS stats, NULL AS dv_card
        |  FROM read_parquet('/tmp/graft_deltadv_sf0.01/_delta_log/*.checkpoint.parquet')
        |  WHERE add.path IS NOT NULL OR remove.path IS NOT NULL
        |),
        |actions AS (
        |  SELECT coalesce(apath, rpath) AS path,
        |    version * 2 + CAST(apath IS NOT NULL AS BIGINT) AS rank,
        |    apath IS NOT NULL AS is_add, stats, dv_card
        |  FROM (SELECT * FROM tail UNION ALL SELECT * FROM ckpt)
        |),
        |latest AS (
        |  SELECT path,
        |    arg_max({'is_add': is_add, 'stats': stats,
        |      'dv': coalesce(CAST(dv_card AS BIGINT), 0)}, rank) AS w
        |  FROM actions GROUP BY path
        |),
        |live AS (
        |  SELECT path,
        |    CAST(json_extract(w.stats, '$.numRecords') AS BIGINT) AS nrec,
        |    w.dv AS dv
        |  FROM latest WHERE w.is_add
        |)
        |SELECT CAST(count(*) AS BIGINT) AS n_live,
        |  CAST(sum(nrec) AS BIGINT) AS physical_rows,
        |  CAST(count(*) FILTER (WHERE dv > 0) AS BIGINT) AS n_dv_files,
        |  CAST(sum(dv) AS BIGINT) AS dv_deleted,
        |  CAST(sum(nrec) - sum(dv) AS BIGINT) AS net_rows
        |FROM live""".stripMargin,


    "meta_iceberg_snapshot" ->
      """SELECT CAST(s."snapshot-id" AS BIGINT) AS snapshot_id,
        |  CAST(s."timestamp-ms" AS BIGINT) AS timestamp_ms,
        |  s.summary.operation AS operation,
        |  s."snapshot-id" = cur AS is_current,
        |  CAST(fv AS INTEGER) AS format_version
        |FROM (
        |  SELECT unnest(snapshots) AS s,
        |    "current-snapshot-id" AS cur,
        |    "format-version" AS fv
        |  FROM read_json_auto(
        |    '/tmp/graft_iceberg_sf0.01/metadata/*.metadata.json')
        |)""".stripMargin,


    "meta_iceberg_live" ->
      """WITH fm AS (
        |  SELECT parse_filename(file_name) AS name, num_rows
        |  FROM parquet_file_metadata('/tmp/graft_iceberg_sf0.01/data/*.parquet')
        |)
        |SELECT
        |  CAST(5 AS BIGINT) AS n_live,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet') AS live_rows,
        |  (SELECT CAST(sum(num_rows) AS BIGINT) FROM fm
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet') AS footer_rows,
        |  (SELECT CAST(sum(num_rows)
        |      - (SELECT num_rows FROM fm WHERE name = 'del0.parquet')
        |      AS BIGINT) FROM fm
        |    WHERE name LIKE 'f%' AND name <> 'f5.parquet') AS net_rows,
        |  CAST(1 AS BIGINT) AS n_delete_files,
        |  (SELECT CAST(num_rows AS BIGINT) FROM fm
        |    WHERE name = 'del0.parquet') AS deleted_positions,
        |  (SELECT CAST(count(*) AS BIGINT) FROM fm) AS n_disk""".stripMargin,

    "meta_iceberg_bucket_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    CAST(min(bucket) AS INT) AS part_bucket
        |  FROM read_parquet('/tmp/graft_icebkt_sf0.01/data/b*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_bucket,
        |  part_bucket = (SELECT min(bucket)
        |    FROM read_parquet('/tmp/graft_icebkt_sf0.01/data/b*.parquet')
        |    WHERE doc_id = 7) AS survives
        |FROM d""".stripMargin,

    "meta_iceberg_bucket_read" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM read_parquet('/tmp/graft_icebkt_sf0.01/data/b*.parquet')
        |WHERE doc_id = 7""".stripMargin,

    "meta_iceberg_truncate_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    CAST(min(k - (k % 100)) AS BIGINT) AS part_trunc
        |  FROM read_parquet('/tmp/graft_icetrn_sf0.01/data/t*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_trunc,
        |  part_trunc BETWEEN (120 - (120 % 100)) AND (250 - (250 % 100))
        |    AS survives
        |FROM d""".stripMargin,

    "meta_iceberg_days_prune" ->
      """WITH d AS (
        |  SELECT parse_filename(filename) AS file,
        |    min(CAST(ts AS DATE)) AS part_day
        |  FROM read_parquet('/tmp/graft_icedays_sf0.01/data/d*.parquet',
        |    filename=true)
        |  GROUP BY 1
        |)
        |SELECT file, part_day,
        |  part_day BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
        |    AS survives
        |FROM d""".stripMargin
  )
}
