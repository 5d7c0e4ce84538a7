package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/**
 * The Delta Lake metadata tier: the `source=delta` snapshot level over a
 * hand-written (public-protocol) log, live-file reconstruction across
 * checkpoint + JSON-tail mixtures, the vacuum-pending composition with
 * the parquet tier, and the commit stream.
 */
class DeltaSourceSpec extends SparkSpec {

  private def meta(path: String, opts: (String, String)*) = {
    val r = spark.read.format("metadata")
    opts.foreach { case (k, v) => r.option(k, v) }
    r.load(path)
  }

  private lazy val docs = spark.range(0, 700)
    .select(col("id").as("doc_id"), (col("id") % 5).cast("string").as("lang"))

  private lazy val table: String = {
    val d = Files.createTempDirectory("graft_delta").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    d
  }

  test("snapshot level: per-segment action counts, checkpoint at footer cost") {
    val rows = meta(table, "source" -> "delta", "level" -> "snapshot")
      .orderBy("version", "kind").collect()
    assert(rows.length === 6) // 5 commits + 1 checkpoint part
    val byKey = rows.map(r =>
      (r.getAs[Long]("version"), r.getAs[String]("kind")) -> r).toMap
    assert(byKey((0L, "commit")).getAs[Long]("n_add") === 2L)
    assert(byKey((0L, "commit")).getAs[Boolean]("has_protocol"))
    assert(byKey((0L, "commit")).getAs[Boolean]("has_metadata"))
    assert(byKey((0L, "commit")).getAs[String]("operation") === "WRITE")
    assert(byKey((2L, "commit")).getAs[Long]("n_remove") === 1L)
    assert(byKey((2L, "commit")).getAs[String]("operation") === "MERGE")
    // the checkpoint's counts decode from its parquet FOOTER statistics
    val ckpt = byKey((2L, "checkpoint"))
    assert(ckpt.getAs[Long]("n_add") === 4L)
    assert(ckpt.getAs[Long]("n_remove") === 1L)
    assert(ckpt.getAs[Boolean]("has_protocol"))
    assert(ckpt.isNullAt(ckpt.fieldIndex("operation")))
    // a delta table INFERS (no source option) by its _delta_log
    assert(meta(table).count() === 6L)
  }

  test("live reconstruction: checkpoint + tail, last action per path wins") {
    val live = DeltaMeta.snapshotFiles(spark, table)
      .select("path", "version", "num_records").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // f1 removed at v2 (tombstone in checkpoint), f2 removed at v3 (tail)
    assert(live.keySet === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    // winners carry the version of their winning add
    assert(live("f5.parquet")._1 === 3L)
    assert(live("f6.parquet")._1 === 4L)
    // stats numRecords equals the data written
    val total = live.values.map(_._2).sum
    val expected = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 3, 4, 5, 6)).count()
    assert(total === expected)
  }

  test("checkpoint-free table replays from JSON alone") {
    val d = Files.createTempDirectory("graft_delta_nockpt").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    // drop the checkpoint + pointer: the replay must fall back to v0..v4
    val log = new java.io.File(d, "_delta_log")
    log.listFiles().filter(f => f.getName.contains("checkpoint") ||
      f.getName == "_last_checkpoint").foreach(_.delete())
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path").collect().map(_.getString(0)).toSet
    assert(live === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    // and the snapshot level now shows 5 commit segments
    assert(meta(d, "source" -> "delta").count() === 5L)
  }

  test("vacuum-pending files: live audit vs raw directory census") {
    val live = DeltaMeta.snapshotFiles(spark, table).select(col("abs_path"))
    val footers = meta(table, "source" -> "parquet", "level" -> "file")
      .select(col("filepath"), col("num_rows"))
    // the raw parquet census sees 7 files; only 5 are in the snapshot
    assert(footers.count() === 7L)
    val dead = footers.join(live, footers("filepath") === live("abs_path"),
      "left_anti")
    assert(dead.count() === 2L)
    // dead rows are REAL rows on disk — exactly what a raw census
    // would overcount
    val deadRows = dead.agg(sum("num_rows")).collect()(0).getLong(0)
    val expected = docs.filter(pmod(col("doc_id"), lit(7)).isin(1, 2)).count()
    assert(deadRows === expected)
  }

  test("validation matrix and foreign-file refusal") {
    val e1 = intercept[Exception](
      meta(table, "source" -> "delta", "level" -> "rowgroup").collect())
    def msg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null && !c.getMessage.contains("level")) c = c.getCause
      c.getMessage
    }
    assert(msg(e1).contains("Source 'delta' does not support 'rowgroup' level"))
    // a non-delta directory refuses the delta source with a clear message
    val plain = Files.createTempDirectory("graft_notdelta").toString
    spark.range(3).write.mode("overwrite").parquet(plain)
    val e2 = intercept[Exception](
      meta(plain, "source" -> "delta").collect())
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      while (c.getCause != null) c = c.getCause
      c.getMessage
    }
    assert(rootMsg(e2).contains("not a Delta table"))
    // _last_checkpoint and .crc sidecars never surface as segments
    val names = meta(table, "source" -> "delta")
      .select("filename").collect().map(_.getString(0))
    assert(!names.exists(_.startsWith("_")))
  }

  test("time travel reconstructs any surviving version, refuses the rest") {
    def liveAt(v: Long): Set[String] =
      DeltaMeta.snapshotFilesAt(spark, table, Some(v))
        .select("path").collect().map(_.getString(0)).toSet
    assert(liveAt(0) === Set("f0.parquet", "f1.parquet"))
    assert(liveAt(1) === Set("f0.parquet", "f1.parquet", "f2.parquet", "f3.parquet"))
    assert(liveAt(2) === Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet"))
    assert(liveAt(3) === Set("f0.parquet", "f3.parquet", "f4.parquet", "f5.parquet"))
    assert(liveAt(4) === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    // beyond the latest commit: refuse, don't silently return latest
    val e1 = intercept[IllegalArgumentException](
      DeltaMeta.snapshotFilesAt(spark, table, Some(9L)))
    assert(e1.getMessage.contains("after the latest commit"))
    // log cleanup: with v0/v1 commits gone, versions below the
    // checkpoint cannot be reconstructed — refuse, never partial
    val d = java.nio.file.Files.createTempDirectory("graft_delta_clean")
      .toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    log.listFiles().filter(f => f.getName.endsWith(".json") &&
      DeltaMeta.segmentVersion(f.getName).exists(_._1 <= 1L))
      .foreach(_.delete())
    val e2 = intercept[IllegalArgumentException](
      DeltaMeta.snapshotFilesAt(spark, d, Some(1L)))
    assert(e2.getMessage.contains("no log segment at or below version 1"))
    // but versions covered by the checkpoint still reconstruct
    assert(DeltaMeta.snapshotFilesAt(spark, d, Some(2L))
      .select("path").collect().map(_.getString(0)).toSet ===
      Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet"))
    // with the checkpoint ALSO gone the tail alone is incomplete
    // (commit 0 missing) — refuse, never a partial replay
    log.listFiles().filter(_.getName.contains("checkpoint"))
      .foreach(_.delete())
    val e3 = intercept[IllegalArgumentException](
      DeltaMeta.snapshotFilesAt(spark, d, Some(3L)))
    assert(e3.getMessage.contains("commit 0 is gone"))
  }

  test("latest transaction versions: later table version wins per appId") {
    val rows = DeltaMeta.latestTransactions(spark, table)
      .orderBy("app_id").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[String]("app_id") === "ingest-a")
    assert(rows(0).getAs[Long]("txn_version") === 11L) // v3 supersedes v1
    assert(rows(0).getAs[Long]("table_version") === 3L)
    assert(rows(1).getAs[String]("app_id") === "ingest-b")
    assert(rows(1).getAs[Long]("txn_version") === 7L)
  }

  test("timestamp travel resolves via commitInfo, refuses pre-history") {
    val ts0 = 1700000000000L
    // commits carry ts0 + v*1000; mid-interval probes resolve downward
    assert(DeltaMeta.versionAt(spark, table, ts0 + 500) === 0L)
    assert(DeltaMeta.versionAt(spark, table, ts0 + 2500) === 2L)
    assert(DeltaMeta.versionAt(spark, table, ts0 + 99999) === 4L)
    val live = DeltaMeta.snapshotFilesAtTime(spark, table, ts0 + 2500)
      .select("path").collect().map(_.getString(0)).toSet
    assert(live === Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet"))
    val e = intercept[IllegalArgumentException](
      DeltaMeta.versionAt(spark, table, ts0 - 1))
    assert(e.getMessage.contains("before the first surviving commit"))
  }

  test("deletion vectors: DELETE-without-rewrite surfaces, never overcounts") {
    val d = Files.createTempDirectory("graft_delta_dv").toString + "/tbl"
    DeltaMeta.writeDvFixtureTable(spark, d, docs)
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version", "num_records", "has_dv", "dv_cardinality")
      .collect().map(r => r.getString(0) -> r).toMap
    // same live SET as the base fixture: the v5 DV commit re-adds f0
    assert(live.keySet === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    val f0 = live("f0.parquet")
    assert(f0.getAs[Long]("version") === 5L)
    assert(f0.getAs[Boolean]("has_dv"))
    assert(f0.getAs[Long]("dv_cardinality") === 3L)
    // numRecords still counts PHYSICAL rows; net = physical − cardinality
    val expected = docs.filter(pmod(col("doc_id"), lit(7)) === 0).count()
    assert(f0.getAs[Long]("num_records") === expected)
    // all other files: no DV, cardinality 0 (never null — safe to sum)
    (live - "f0.parquet").values.foreach { r =>
      assert(!r.getAs[Boolean]("has_dv"))
      assert(r.getAs[Long]("dv_cardinality") === 0L)
    }
  }

  test("V2 sidecar checkpoint replays through its sidecar parts") {
    val d = Files.createTempDirectory("graft_delta_v2ck").toString + "/tbl"
    DeltaMeta.writeV2CheckpointFixtureTable(spark, d, docs)
    // commits 0..2 are gone: the checkpointed state can ONLY come from
    // the sidecar parts the manifest points at
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version", "num_records").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(live.keySet === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    // sidecar-sourced files carry the checkpoint version; tail, theirs
    assert(live("f0.parquet")._1 === 2L)
    assert(live("f5.parquet")._1 === 3L)
    assert(live("f6.parquet")._1 === 4L)
    val expected = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 3, 4, 5, 6)).count()
    assert(live.values.map(_._2).sum === expected)
    // non-file actions stayed in the MANIFEST: protocol/schema/txn
    // reports answer from it even with the covered commits deleted
    assert(DeltaMeta.protocolInfo(spark, d).collect()(0)
      .getAs[Int]("min_reader_version") === 1)
    val hist = DeltaMeta.schemaHistory(spark, d).orderBy("version").collect()
    assert(hist.map(_.getAs[Long]("version")).toSeq === Seq(2L, 4L))
    val txns = DeltaMeta.latestTransactions(spark, d).orderBy("app_id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("txn_version")))
    assert(txns.toSeq === Seq(("ingest-a", 11L), ("ingest-b", 7L)))
    // time travel INTO the checkpoint still works
    val atCkpt = DeltaMeta.snapshotFilesAt(spark, d, Some(2L))
      .select("path").collect().map(_.getString(0)).toSet
    assert(atCkpt === Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet"))
    // the snapshot LEVEL reports the manifest's action counts as NULL:
    // its footer holds no evidence of actions that live in sidecars
    val segs = meta(d, "source" -> "delta", "level" -> "snapshot")
      .filter(col("kind") === "checkpoint").collect()
    assert(segs.length === 1)
    assert(segs(0).isNullAt(segs(0).fieldIndex("n_add")))
    assert(segs(0).isNullAt(segs(0).fieldIndex("n_remove")))
    assert(segs(0).getAs[Boolean]("has_protocol"))
  }

  test("log-cleanup plan: coverage + age gates, checkpoint-less refusal") {
    val d = Files.createTempDirectory("graft_delta_clean").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    val ts0 = 1700000000000L
    val hour = 3600000L
    log.listFiles().foreach(_.setLastModified(ts0))
    // everything aged, checkpoint at v2 → commits 0,1 deletable; the
    // covering checkpoint and everything after it stay even when old
    val plan = DeltaMeta.logCleanupPlan(spark, d, ts0 + 10 * hour, hour)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(plan === Set((0L, "commit"), (1L, "commit")))
    // nothing aged → empty plan (the gates compose)
    assert(DeltaMeta.logCleanupPlan(spark, d, ts0 + 10 * hour,
      20 * hour).count() === 0L)
    // an INCOMPLETE multipart checkpoint at a higher version is NOT a
    // covering base: the plan falls back to the complete v2 checkpoint
    // (planning against the broken v4 would direct deletion of the
    // only reconstructible history)
    java.nio.file.Files.copy(
      new java.io.File(log, f"${2L}%020d.checkpoint.parquet").toPath,
      new java.io.File(log,
        f"${4L}%020d.checkpoint.0000000001.0000000002.parquet").toPath)
    new java.io.File(log,
      f"${4L}%020d.checkpoint.0000000001.0000000002.parquet")
      .setLastModified(ts0)
    val planBroken = DeltaMeta.logCleanupPlan(spark, d, ts0 + 10 * hour,
      hour).collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(planBroken === Set((0L, "commit"), (1L, "commit")))
    assert(new java.io.File(log,
      f"${4L}%020d.checkpoint.0000000001.0000000002.parquet").delete())
    // a superseded V2 JSON manifest's SIDECARS ride the plan — once the
    // manifest (the only thing naming them) is gone they leak forever
    val d2 = Files.createTempDirectory("graft_delta_cln2").toString + "/tbl"
    DeltaMeta.writeV2JsonCheckpointFixtureTable(spark, d2, docs)
    val log2 = new java.io.File(d2, "_delta_log")
    // a newer complete classic checkpoint at v4 supersedes the JSON
    // manifest (content correctness is irrelevant to the planner)
    val manifest2 = log2.listFiles()
      .filter(_.getName.endsWith("graftv2json.json")).head
    docs.limit(1).coalesce(1).write.mode("overwrite")
      .parquet(d2 + "_cktmp")
    val ckPart = new java.io.File(d2 + "_cktmp").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(ckPart.toPath,
      new java.io.File(log2, f"${4L}%020d.checkpoint.parquet").toPath)
    log2.listFiles().foreach(_.setLastModified(ts0))
    new java.io.File(log2, f"${4L}%020d.checkpoint.parquet")
      .setLastModified(ts0 + 9 * hour)
    val plan2 = DeltaMeta.logCleanupPlan(spark, d2, ts0 + 10 * hour, hour)
      .collect().map(r => (r.getString(1), r.getString(2))).toSet
    assert(plan2.contains(("checkpoint", manifest2.getName)))
    assert(plan2.contains(("sidecar", "sc1.parquet")))
    assert(plan2.contains(("sidecar", "sc2.parquet")))
    // a checkpoint-less log refuses: nothing is coverable and an empty
    // plan would read as "already clean"
    assert(new java.io.File(log,
      f"${2L}%020d.checkpoint.parquet").delete())
    val e = intercept[Exception](
      DeltaMeta.logCleanupPlan(spark, d, ts0 + 10 * hour, hour).collect())
    assert(causeMessages(e).contains("no COMPLETE checkpoint"))
  }

  test("incremental commit diff: actions per version, gapped range refuses") {
    val d = Files.createTempDirectory("graft_delta_incr").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val diff = DeltaMeta.commitDiff(spark, d, 2L, 4L).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // the base fixture's commits 3 and 4: v3 removes f2 and adds f5;
    // v4 adds f6 — nothing from v0..v2 may leak in
    assert(diff.toSet === Set(
      (3L, "remove", "f2.parquet"), (3L, "add", "f5.parquet"),
      (4L, "add", "f6.parquet")))
    // adds carry their stats rows, removes carry null num_records
    val rows = DeltaMeta.commitDiff(spark, d, 2L, 4L).collect()
    val rem = rows.find(_.getString(1) == "remove").get
    assert(rem.isNullAt(rem.fieldIndex("num_records")))
    rows.filter(_.getString(1) == "add").foreach { a =>
      assert(a.getAs[Long]("num_records") > 0L)
      assert(a.getAs[Long]("size") > 0L)
    }
    // refusals: reversed range, beyond-latest, log-cleaned gap
    val eRev = intercept[Exception](DeltaMeta.commitDiff(spark, d, 4L, 2L))
    assert(causeMessages(eRev).contains("empty or reversed"))
    val eHigh = intercept[Exception](DeltaMeta.commitDiff(spark, d, 2L, 99L))
    assert(causeMessages(eHigh).contains("after the latest"))
    assert(new java.io.File(d, "_delta_log/" +
      f"${3L}%020d.json").delete())
    val eGap = intercept[Exception](
      DeltaMeta.commitDiff(spark, d, 2L, 4L).collect())
    assert(causeMessages(eGap).contains("log-cleaned"))
  }

  test("V2 JSON-manifest checkpoint: classified, replayed, never invisible") {
    val d = Files.createTempDirectory("graft_delta_v2j").toString + "/tbl"
    DeltaMeta.writeV2JsonCheckpointFixtureTable(spark, d, docs)
    // the manifest name classifies as a CHECKPOINT segment, not a
    // commit (a blind reader would replay from nothing — commits <= 2
    // are gone and no parquet checkpoint survives)
    assert(DeltaMeta.segmentVersion("00000000000000000002.checkpoint.graftv2json.json")
      === Some((2L, "checkpoint")))
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version", "num_records").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(live.keySet === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    assert(live("f0.parquet")._1 === 2L)
    assert(live("f6.parquet")._1 === 4L)
    val expected = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 3, 4, 5, 6)).count()
    assert(live.values.map(_._2).sum === expected)
    // non-file actions read from the MANIFEST's ndjson lines
    assert(DeltaMeta.protocolInfo(spark, d).collect()(0)
      .getAs[Int]("min_reader_version") === 1)
    val txns = DeltaMeta.latestTransactions(spark, d).orderBy("app_id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("txn_version")))
    assert(txns.toSeq === Seq(("ingest-a", 11L), ("ingest-b", 7L)))
    // snapshot level: a JSON manifest has no parquet footer — action
    // counts are null (they live in the sidecars), protocol flagged
    val segs = meta(d, "source" -> "delta", "level" -> "snapshot")
      .filter(col("kind") === "checkpoint").collect()
    assert(segs.length === 1)
    assert(segs(0).isNullAt(segs(0).fieldIndex("n_add")))
    assert(segs(0).getAs[Boolean]("has_protocol"))
    // a missing sidecar refuses, same as the parquet-manifest form
    assert(new java.io.File(d, "_delta_log/_sidecars/sc1.parquet").delete())
    val e = intercept[Exception](DeltaMeta.snapshotFiles(spark, d).collect())
    assert(causeMessages(e).contains("missing from"))
    // a JSON manifest with NEITHER pointers nor inline actions refuses
    val d2 = Files.createTempDirectory("graft_delta_v2jbad").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d2, docs)
    java.nio.file.Files.write(
      new java.io.File(d2, "_delta_log/" +
        f"${4L}%020d.checkpoint.deadbeef.json").toPath,
      """{"checkpointMetadata":{"version":4}}""".getBytes("UTF-8"))
    val e2 = intercept[Exception](DeltaMeta.snapshotFiles(spark, d2).collect())
    assert(causeMessages(e2).contains("unknown layout"))
  }

  test("V2 checkpoint refusals: missing sidecar, unknown layout") {
    // a manifest whose named sidecar is GONE: refusing beats silently
    // reconstructing a partial snapshot from the surviving parts
    val d = Files.createTempDirectory("graft_delta_v2miss").toString + "/tbl"
    DeltaMeta.writeV2CheckpointFixtureTable(spark, d, docs)
    assert(new java.io.File(d, "_delta_log/_sidecars/sc2.parquet").delete())
    val e1 = intercept[Exception](DeltaMeta.snapshotFiles(spark, d).collect())
    assert(causeMessages(e1).contains("missing from"))
    // a checkpointMetadata-only manifest (no pointers, no inline
    // actions): unknown layout — refuse, never an empty live set
    val d2 = Files.createTempDirectory("graft_delta_v2bad").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d2, docs)
    val log2 = new java.io.File(d2, "_delta_log")
    val bad = spark.range(1).select(
      struct(lit(4L).as("version")).as("checkpointMetadata"))
    val tmp = Files.createTempDirectory("graft_v2bad_tmp").toString + "/p"
    bad.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(part.toPath,
      new java.io.File(log2, f"${4L}%020d.checkpoint.parquet").toPath)
    val e2 = intercept[Exception](DeltaMeta.snapshotFiles(spark, d2).collect())
    assert(causeMessages(e2).contains("unknown layout"))
  }

  test("multipart V1 checkpoint replays the full part set; partial refuses") {
    val d = Files.createTempDirectory("graft_delta_mp").toString + "/tbl"
    DeltaMeta.writeMultipartCheckpointFixtureTable(spark, d, docs)
    // commits ≤ 2 are gone: the checkpointed state can ONLY come from
    // the two .checkpoint.<n>.<m>.parquet parts together (adds live in
    // part 1, protocol/metaData/txn + removes in part 2)
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version", "num_records").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(live.keySet === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    assert(live("f0.parquet")._1 === 2L)
    assert(live("f6.parquet")._1 === 4L)
    val expected = docs.filter(pmod(col("doc_id"), lit(7)).isin(0, 3, 4, 5, 6)).count()
    assert(live.values.map(_._2).sum === expected)
    // non-file actions replay from part 2
    assert(DeltaMeta.protocolInfo(spark, d).collect()(0)
      .getAs[Int]("min_reader_version") === 1)
    val txns = DeltaMeta.latestTransactions(spark, d).orderBy("app_id")
      .collect().map(r => (r.getString(0), r.getAs[Long]("txn_version")))
    assert(txns.toSeq === Seq(("ingest-a", 11L), ("ingest-b", 7L)))
    // a writer may leave BOTH forms at one version: exactly one is
    // chosen (the single file), never both — double-reading a
    // checkpoint double-counts its actions
    val singleForm = Seq(f"x/${2L}%020d.checkpoint.parquet")
    val partForm = Seq(
      f"x/${2L}%020d.checkpoint.${1L}%010d.${2L}%010d.parquet",
      f"x/${2L}%020d.checkpoint.${2L}%010d.${2L}%010d.parquet")
    assert(DeltaMeta.selectCheckpointParts("t", 2L, singleForm ++ partForm)
      === singleForm)
    assert(DeltaMeta.selectCheckpointParts("t", 2L, partForm) === partForm)
    // the protocol allows a classic compat checkpoint BESIDE a
    // UUID-named V2 manifest (and several UUID manifests): each is
    // complete alone, so exactly one is chosen — classic preferred,
    // else a deterministic single pick — never both (double-read +
    // mixed schemas in one scan)
    val uuid1 = f"x/${2L}%020d.checkpoint.aaaa-bbbb.parquet"
    val uuid2 = f"x/${2L}%020d.checkpoint.cccc-dddd.parquet"
    assert(DeltaMeta.selectCheckpointParts("t", 2L,
      Seq(uuid1) ++ singleForm) === singleForm)
    assert(DeltaMeta.selectCheckpointParts("t", 2L, Seq(uuid1, uuid2))
      === Seq(uuid2))
    // part 2 deleted: a partial multipart set must REFUSE, not
    // reconstruct a snapshot missing every non-add action
    assert(new java.io.File(d,
      f"_delta_log/${2L}%020d.checkpoint.${2L}%010d.${2L}%010d.parquet").delete())
    val e = intercept[Exception](DeltaMeta.snapshotFiles(spark, d).collect())
    assert(causeMessages(e).contains("incomplete"))
  }

  test("crc audit: declared vs replayed state, lying crc flagged") {
    val d = Files.createTempDirectory("graft_delta_crc").toString + "/tbl"
    DeltaMeta.writeCrcFixtureTable(spark, d, docs)
    val rows = DeltaMeta.crcAudit(spark, d).orderBy("version").collect()
    assert(rows.length === 5)
    assert(rows.map(_.getAs[Long]("version")).toSeq === (0L to 4L))
    // the actual side comes from the replay: closed-form live counts
    assert(rows.map(_.getAs[Long]("actual_files")).toSeq ===
      Seq(2L, 4L, 4L, 4L, 5L))
    // only v1's crc lies (numFiles 99); every other row matches fully
    rows.foreach { r =>
      val v = r.getAs[Long]("version")
      assert(r.getAs[Boolean]("files_match") === (v != 1L))
      assert(r.getAs[Boolean]("bytes_match"))
    }
    assert(rows(1).getAs[Long]("declared_files") === 99L)
    // log-cleaned history: delete commits 0..2 — the checkpoint at 2
    // becomes the replay base, so v0/v1 report NULL actuals (not
    // dropped, not guessed) while v2..v4 still audit
    val logDir = new java.io.File(d, "_delta_log")
    logDir.listFiles().filter(f => f.getName.endsWith(".json") &&
      DeltaMeta.segmentVersion(f.getName).exists(_._1 <= 2L))
      .foreach(f => assert(f.delete()))
    val after = DeltaMeta.crcAudit(spark, d).orderBy("version").collect()
    assert(after.length === 5)
    assert(after.filter(_.getAs[Long]("version") < 2L)
      .forall(r => r.isNullAt(r.fieldIndex("actual_files")) &&
        r.isNullAt(r.fieldIndex("files_match"))))
    assert(after.filter(_.getAs[Long]("version") >= 2L)
      .forall(_.getAs[Boolean]("files_match")))
    // a crc missing a required field refuses, classified
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${4L}%020d.crc").toPath,
      """{"tableSizeBytes":1}""".getBytes("UTF-8"))
    val e = intercept[IllegalArgumentException](DeltaMeta.crcAudit(spark, d))
    assert(e.getMessage.contains("numFiles"))
  }

  test("_last_checkpoint pointer audit: fresh, stale, broken pointers") {
    val d = Files.createTempDirectory("graft_delta_ptr").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val fresh = DeltaMeta.lastCheckpointAudit(spark, d).collect()(0)
    assert(fresh.getAs[Long]("declared_version") === 2L)
    assert(fresh.isNullAt(fresh.fieldIndex("declared_parts")))
    assert(fresh.getAs[Long]("parts_found") === 1L)
    assert(fresh.getAs[Boolean]("checkpoint_complete"))
    assert(!fresh.getAs[Boolean]("newer_checkpoint_exists"))
    assert(fresh.getAs[Long]("commits_after") === 2L)
    // pointer naming a checkpoint that does NOT exist: incomplete
    val ptr = new java.io.File(d, "_delta_log/_last_checkpoint")
    java.nio.file.Files.write(ptr.toPath,
      """{"version":9,"size":1}""".getBytes("UTF-8"))
    val broken = DeltaMeta.lastCheckpointAudit(spark, d).collect()(0)
    assert(broken.getAs[Long]("declared_version") === 9L)
    assert(broken.getAs[Long]("parts_found") === 0L)
    assert(!broken.getAs[Boolean]("checkpoint_complete"))
    // STALE pointer: names version 0 while the v2 checkpoint exists
    java.nio.file.Files.write(ptr.toPath,
      """{"version":0,"size":1}""".getBytes("UTF-8"))
    val stale = DeltaMeta.lastCheckpointAudit(spark, d).collect()(0)
    assert(stale.getAs[Boolean]("newer_checkpoint_exists"))
    assert(stale.getAs[Long]("commits_after") === 4L)
    // malformed pointer refuses with the field named; missing refuses
    java.nio.file.Files.write(ptr.toPath, """{"size":1}""".getBytes("UTF-8"))
    val e1 = intercept[IllegalArgumentException](
      DeltaMeta.lastCheckpointAudit(spark, d))
    assert(e1.getMessage.contains("version"))
    assert(ptr.delete())
    val e2 = intercept[IllegalArgumentException](
      DeltaMeta.lastCheckpointAudit(spark, d))
    assert(e2.getMessage.contains("_last_checkpoint"))
  }

  test("stats prune: interval selection sound, boundless files kept") {
    val d = Files.createTempDirectory("graft_delta_sp").toString + "/tbl"
    DeltaMeta.writeStatsPruneFixtureTable(spark, d, docs)
    // docs ids 0..699 → step 140: f0 [0,140) ... f4 [560,700) boundless
    val rows = DeltaMeta.statsPrune(spark, d, "doc_id", 150L, 250L)
      .orderBy("path").collect()
    assert(rows.length === 5)
    val byPath = rows.map(r => r.getString(0) -> r).toMap
    // only f1 [140,280) overlaps [150,250]; f0/f2/f3 prune
    assert(byPath("f0.parquet").getAs[Boolean]("selected") === false)
    assert(byPath("f1.parquet").getAs[Boolean]("selected") === true)
    assert(byPath("f2.parquet").getAs[Boolean]("selected") === false)
    assert(byPath("f3.parquet").getAs[Boolean]("selected") === false)
    // f4 has no bounds: kept — no evidence, a sound pruner reads it
    assert(byPath("f4.parquet").getAs[Boolean]("has_bounds") === false)
    assert(byPath("f4.parquet").getAs[Boolean]("selected") === true)
    // SOUNDNESS: every row matching the predicate lives in a selected
    // file — read the data back and check file membership
    val selected = rows.filter(_.getAs[Boolean]("selected"))
      .map(_.getString(0)).toSet
    val matching = spark.read.parquet(d + "/*.parquet")
      .filter(col("doc_id").between(150, 250))
      .select(regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
      .distinct().collect().map(_.getString(0)).toSet
    assert(matching.subsetOf(selected))
    // plan shape: the selection is a narrow projection over the
    // per-path replay — no exchange beyond the replay's own groupBy,
    // and no join against anything data-scale
    val plan = DeltaMeta.statsPrune(spark, d, "doc_id", 150L, 250L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in statsPrune:\n$plan")
  }

  test("domain metadata: latest per domain, tombstones surfaced") {
    val d = Files.createTempDirectory("graft_delta_dm").toString + "/tbl"
    DeltaMeta.writeDomainMetadataFixtureTable(spark, d, docs)
    val rows = DeltaMeta.domainMetadataReport(spark, d).orderBy("domain")
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getBoolean(2), r.getLong(3)))
    assert(rows.toSeq === Seq(
      ("delta.clustering", "", true, 6L), // tombstoned, NOT dropped
      ("graft.pipeline", """{"stage":2}""", false, 6L)))
    // log cleanup: commits <= 2 deleted — domains (written at 5,6)
    // still answer from the surviving tail + checkpoint split
    val logDir = new java.io.File(d, "_delta_log")
    logDir.listFiles().filter(f => f.getName.endsWith(".json") &&
      DeltaMeta.segmentVersion(f.getName).exists(_._1 <= 2L))
      .foreach(f => assert(f.delete()))
    val after = DeltaMeta.domainMetadataReport(spark, d).collect()
    assert(after.length === 2)
  }

  test("in-commit timestamps override skewed wall clocks in versionAt") {
    val d = Files.createTempDirectory("graft_delta_ict").toString + "/tbl"
    DeltaMeta.writeIctFixtureTable(spark, d, docs)
    val ts0 = 1700000000000L
    // wall timestamps are ts0, ts0+1, ts0+2 — a wall-clock reader would
    // resolve EVERY probe below to version 2; ICT (10 s apart) must win
    assert(DeltaMeta.versionAt(spark, d, ts0 + 5000) === 0L)
    assert(DeltaMeta.versionAt(spark, d, ts0 + 15000) === 1L)
    assert(DeltaMeta.versionAt(spark, d, ts0 + 99999) === 2L)
    // a probe before the first ICT refuses
    val e = intercept[IllegalArgumentException](
      DeltaMeta.versionAt(spark, d, ts0 - 1))
    assert(e.getMessage.contains("before the first"))
  }

  test("footer action counts ignore embedded-leaf impostor columns") {
    // a writer-specific column whose dotted path EMBEDS add.path must not
    // double-count: the leaf match is exact, not substring
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_imp").toString
    Seq(("f0", "x"), ("f1", "y")).toDF("p", "q")
      .select(struct(col("p").as("path")).as("add"),
        struct(struct(col("p").as("path")).as("add")).as("stats_parsed"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val f = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val footer = Footers.read(new org.apache.hadoop.fs.Path(f.getAbsolutePath),
      spark.sessionState.newHadoopConf(), None)
    // both add.path and stats_parsed.add.path carry 2 non-null values;
    // only the top-level action leaf may count
    assert(DeltaMeta.footerNonNull(footer, "add.path") === Some(2L))
  }

  test("partitioned table: partition-pruned file planning at metadata cost") {
    val d = Files.createTempDirectory("graft_delta_part").toString + "/tbl"
    val pdocs = docs.withColumn("n_chars", col("doc_id") * 7)
    DeltaMeta.writePartitionedFixtureTable(spark, d, pdocs)
    val live = DeltaMeta.snapshotFiles(spark, d)
    assert(live.count() === 10L) // 5 langs x 2 parity files
    // "which files serve lang = 3" answers from the LOG alone
    val pruned = live.filter(element_at(col("partition_values"), "lang") === "3")
    val prunedRows = pruned.agg(sum("num_records")).collect()(0).getLong(0)
    assert(prunedRows === pdocs.filter(col("lang") === "3").count())
    val paths = pruned.select("abs_path").collect().map(_.getString(0))
    assert(paths.length === 2)
    // composing with the parquet tier: the pushed filepath IN-list
    // prunes 8 of 10 files BEFORE any footer I/O
    val footers = spark.read.format("metadata")
      .option("source", "parquet").option("level", "file").load(d)
      .filter(col("filepath").isin(paths.toSeq: _*))
    val plan = footers.queryExecution.executedPlan.toString
    assert(plan.contains("files=2/10"), s"scan not pruned: $plan")
    assert(footers.agg(sum("num_rows")).collect()(0).getLong(0) === prunedRows)
    // the generic listing ALSO discovers lang as a hive partition —
    // the two views of partitioning agree
    val byPartition = spark.read.format("metadata")
      .option("source", "parquet").option("level", "file").load(d)
      .filter(element_at(col("partition"), "lang") === "3")
    assert(byPartition.count() === 2L)
  }

  test("schema history reads the evolution from the log alone") {
    val rows = DeltaMeta.schemaHistory(spark, table)
      .orderBy("version").collect()
    assert(rows.length === 2)
    assert(rows(0).getAs[Long]("version") === 0L)
    assert(rows(0).getAs[Int]("n_fields") === 2)
    assert(rows(0).getAs[String]("field_names_csv") === "doc_id,lang")
    assert(rows(1).getAs[Long]("version") === 4L)
    assert(rows(1).getAs[Int]("n_fields") === 3)
    assert(rows(1).getAs[String]("field_names_csv") === "doc_id,lang,quality")
    assert(rows.forall(_.getAs[String]("schema_id") === "graft-fixture"))
  }

  test("URL-encoded add paths decode before the disk join") {
    // the protocol URL-encodes add.path: a file named "f 8.parquet"
    // logs as "f%208.parquet"; abs_path must decode or the footer join
    // silently misses the file
    val d = Files.createTempDirectory("graft_delta_enc").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val src = new java.io.File(d, "f0.parquet")
    val spaced = new java.io.File(d, "f 8.parquet")
    java.nio.file.Files.copy(src.toPath, spaced.toPath)
    val ts5 = 1700000005000L
    java.nio.file.Files.write(
      new java.io.File(d, "_delta_log/" + f"${5L}%020d.json").toPath,
      (s"""{"commitInfo":{"timestamp":$ts5,"operation":"WRITE"}}""" + "\n" +
        s"""{"add":{"path":"f%208.parquet","partitionValues":{},""" +
        s""""size":${spaced.length()},"modificationTime":$ts5,""" +
        """"dataChange":true,"stats":"{\"numRecords\":1}"}}""" + "\n")
        .getBytes("UTF-8"))
    val live = DeltaMeta.snapshotFiles(spark, d)
    val row = live.filter(col("path") === "f%208.parquet").collect()
    assert(row.length === 1)
    assert(row(0).getAs[String]("abs_path").endsWith("/f 8.parquet"))
    // the decoded abs_path joins against the real footer listing
    val footers = spark.read.format("metadata")
      .option("source", "parquet").option("level", "file").load(d)
      .select(col("filepath"))
    assert(live.join(footers,
      live("abs_path") === footers("filepath")).count() === 6L)
  }

  test("multi-part checkpoints replay all parts as one snapshot") {
    val d = Files.createTempDirectory("graft_delta_mp").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    // split the single checkpoint into the spec's two-part layout
    // (<v>.checkpoint.<part>.<of>.parquet) and delete the covered
    // commits, so the replay MUST assemble both parts
    val single = log.listFiles().filter(_.getName.endsWith(".checkpoint.parquet")).head
    val ckpt = spark.read.parquet(single.getPath).cache()
    val half1 = ckpt.filter(col("add").isNotNull)
    val half2 = ckpt.filter(col("add").isNull)
    def writePart(df: org.apache.spark.sql.DataFrame, part: Int): Unit = {
      val tmp = d + s"_mp$part"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val f = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath, new java.io.File(log,
        f"${2L}%020d.checkpoint.$part%010d.${2}%010d.parquet").toPath)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    }
    writePart(half1, 1)
    writePart(half2, 2)
    ckpt.unpersist()
    single.delete()
    log.listFiles().filter(f => f.getName.endsWith(".json") &&
      DeltaMeta.segmentVersion(f.getName).exists(_._1 <= 2L))
      .foreach(_.delete())
    val live = DeltaMeta.snapshotFiles(spark, d)
      .select("path").collect().map(_.getString(0)).toSet
    assert(live === Set("f0.parquet", "f3.parquet", "f4.parquet",
      "f5.parquet", "f6.parquet"))
    // and the snapshot level sees both parts as version-2 checkpoints
    val segs = meta(d, "source" -> "delta")
      .select("version", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(segs.count(_ == (2L, "checkpoint")) === 2)
  }

  test("vacuum candidates: retention window + on-disk existence gate") {
    val ts0 = 1700000000000L
    // f1 removed at ts0+2000, f2 at ts0+3000 (both still on disk)
    val all = DeltaMeta.vacuumCandidates(spark, table, ts0 + 10000, 0L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(all.keySet === Set("f1.parquet", "f2.parquet"))
    assert(all("f1.parquet").getAs[Long]("age_ms") === 8000L)
    // f1's reclaim numbers come from its own footer
    val expected = docs.filter(pmod(col("doc_id"), lit(7)) === 1).count()
    assert(all("f1.parquet").getAs[Long]("num_rows") === expected)
    assert(all("f1.parquet").getAs[Long]("size") > 0L)
    // a 7.5s retention keeps f2 (age 7000 < window) — deleting young
    // tombstones breaks readers of older snapshots
    val windowed = DeltaMeta.vacuumCandidates(spark, table, ts0 + 10000, 7500L)
      .select("path").collect().map(_.getString(0)).toSet
    assert(windowed === Set("f1.parquet"))
    // an already-vacuumed tombstone (file gone from disk) is no longer
    // a candidate — nothing to reclaim
    val d = Files.createTempDirectory("graft_delta_vac").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    new java.io.File(d, "f1.parquet").delete()
    val after = DeltaMeta.vacuumCandidates(spark, d, ts0 + 10000, 0L)
      .select("path").collect().map(_.getString(0)).toSet
    assert(after === Set("f2.parquet"))
  }

  test("schema conformance: files predating an added column surface") {
    val rows = DeltaMeta.schemaConformance(spark, table).collect()
    assert(rows.length === 5) // the live set
    // every data file was written before the v4 +quality evolution
    rows.foreach { r =>
      assert(r.getAs[Int]("n_declared") === 3)
      assert(r.getAs[Int]("n_present") === 2)
      assert(r.getAs[String]("missing_csv") === "quality")
    }
  }

  test("protocol report: versions, features, and the supported verdict") {
    // base fixture: legacy protocol (1, 2) — always supported
    val p0 = DeltaMeta.protocolInfo(spark, table).collect()(0)
    assert(p0.getAs[Int]("min_reader_version") === 1)
    assert(p0.getAs[Boolean]("supported"))
    // DV fixture: table-features protocol, deletionVectors understood
    val d = Files.createTempDirectory("graft_delta_proto").toString + "/tbl"
    DeltaMeta.writeDvFixtureTable(spark, d, docs)
    val p1 = DeltaMeta.protocolInfo(spark, d).collect()(0)
    assert(p1.getAs[Int]("min_reader_version") === 3)
    assert(p1.getAs[scala.collection.Seq[String]]("reader_features").toSeq === Seq("deletionVectors"))
    assert(p1.getAs[Boolean]("supported"))
    // an upgrade to a feature this tier does NOT understand flips the
    // verdict up front instead of failing later (v2Checkpoint is now
    // understood — sidecars replay — so a future unknown stands in)
    val ts6 = 1700000006000L
    java.nio.file.Files.write(
      new java.io.File(d, "_delta_log/" + f"${6L}%020d.json").toPath,
      (s"""{"commitInfo":{"timestamp":$ts6,"operation":"UPGRADE"}}""" + "\n" +
        """{"protocol":{"minReaderVersion":3,"minWriterVersion":7,""" +
        """"readerFeatures":["deletionVectors","futureUnknownFeature"],""" +
        """"writerFeatures":["deletionVectors","futureUnknownFeature"]}}""" + "\n")
        .getBytes("UTF-8"))
    val p2 = DeltaMeta.protocolInfo(spark, d).collect()(0)
    assert(!p2.getAs[Boolean]("supported"))
    assert(p2.getAs[scala.collection.Seq[String]]("reader_features").contains("futureUnknownFeature"))
    // v2Checkpoint alone IS understood
    assert(DeltaMeta.UnderstoodReaderFeatures.contains("v2Checkpoint"))
  }

  test("streaming live-store maintenance tracks the log incrementally") {
    val d = Files.createTempDirectory("graft_delta_store").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    val held = Files.createTempDirectory("graft_delta_held").toString
    // wave 1: hold back v3/v4 — the store must reflect v2 exactly
    log.listFiles().filter(f => DeltaMeta.segmentVersion(f.getName)
      .exists(s => s._1 >= 3L && s._2 == "commit")).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(held, f.getName).toPath)
    }
    val store = Files.createTempDirectory("graft_delta_lsd").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_delta_lsc").toString
    DeltaMeta.maintainLiveStore(spark, d, store, ckpt)
    def liveMap(): Map[String, Long] =
      DeltaMeta.readLiveStore(spark, store)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("version")).toMap
    assert(liveMap().keySet ===
      Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet"))
    // wave 2: v3/v4 arrive; ONLY they replay (checkpointed offset), and
    // the store converges to the batch replay's answer
    new java.io.File(held).listFiles().foreach { f =>
      val dst = new java.io.File(log, f.getName)
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis())
    }
    DeltaMeta.maintainLiveStore(spark, d, store, ckpt)
    val batchAnswer = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(liveMap() === batchAnswer)
    // wave 3: a DV commit (remove+add of f0, cardinality 3) — the tie
    // reconciles to the add, the store carries the DV arithmetic
    val ts5 = 1700000005000L
    val v5 = Seq(
      s"""{"commitInfo":{"timestamp":$ts5,"operation":"DELETE"}}""",
      s"""{"remove":{"path":"f0.parquet","deletionTimestamp":$ts5,"dataChange":true}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":$ts5,"dataChange":true,""" +
        """"stats":"{\"numRecords\":100}",""" +
        """"deletionVector":{"storageType":"i","pathOrInlineDv":"x",""" +
        """"offset":1,"sizeInBytes":40,"cardinality":3}}}""")
    val v5f = new java.io.File(log, f"${5L}%020d.json")
    java.nio.file.Files.write(v5f.toPath,
      v5.mkString("", "\n", "\n").getBytes("UTF-8"))
    v5f.setLastModified(System.currentTimeMillis() + 1)
    DeltaMeta.maintainLiveStore(spark, d, store, ckpt)
    val rows = DeltaMeta.readLiveStore(spark, store).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === batchAnswer.keySet)
    assert(rows("f0.parquet").getAs[Long]("version") === 5L)
    assert(rows("f0.parquet").getAs[Long]("dv_cardinality") === 3L)
    assert(rows("f3.parquet").getAs[Long]("dv_cardinality") === 0L)
  }

  test("live store comes back after a crash between the publish renames") {
    val d = Files.createTempDirectory("graft_delta_crash").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    val held = Files.createTempDirectory("graft_delta_crash_held").toString
    log.listFiles().filter(f => DeltaMeta.segmentVersion(f.getName)
      .exists(s => s._1 >= 3L && s._2 == "commit")).foreach { f =>
      java.nio.file.Files.move(f.toPath,
        new java.io.File(held, f.getName).toPath)
    }
    val store = Files.createTempDirectory("graft_delta_crash_s")
      .toString + "/store"
    val ckpt = Files.createTempDirectory("graft_delta_crash_c").toString
    DeltaMeta.maintainLiveStore(spark, d, store, ckpt)
    // the state a crash between the store's two publish renames leaves:
    // the previous store staged aside, no store in place
    assert(new java.io.File(store).renameTo(new java.io.File(store + "_old")))
    new java.io.File(held).listFiles().foreach { f =>
      val dst = new java.io.File(log, f.getName)
      java.nio.file.Files.move(f.toPath, dst.toPath)
      dst.setLastModified(System.currentTimeMillis())
    }
    DeltaMeta.maintainLiveStore(spark, d, store, ckpt)
    val live = DeltaMeta.readLiveStore(spark, store).select("path", "version")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val batchAnswer = DeltaMeta.snapshotFiles(spark, d)
      .select("path", "version").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(live === batchAnswer)
    assert(!new java.io.File(store + "_old").exists())
  }

  test("commit stream: new log segments arrive as micro-batches") {
    import org.apache.spark.sql.streaming.Trigger
    val d = Files.createTempDirectory("graft_delta_stream").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val ckpt = Files.createTempDirectory("graft_delta_ck").toString
    val out = Files.createTempDirectory("graft_delta_out").toString
    val src = spark.readStream.format("metadata")
      .option("source", "delta").option("level", "snapshot")
      .option("streamlagms", "0").load(d)
    val q = src.select("version", "kind", "n_add", "n_remove")
      .writeStream.format("parquet").outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt).option("path", out).start()
    q.awaitTermination(60000)
    q.stop()
    val got = spark.read.parquet(out)
    assert(got.count() === 6L)
    assert(got.agg(sum("n_add")).collect()(0).getLong(0) === 11L)
  }

  test("timestamp travel picks the max VERSION among eligible commits") {
    // writer clock skew: v5's commitInfo timestamp is EARLIER than
    // v4's. A probe after v4's timestamp must resolve to version 5
    // (the latest version whose ts <= probe), not to the commit with
    // the max timestamp — that would time-travel PAST v5's changes.
    val d = Files.createTempDirectory("graft_delta_skew").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val ts0 = 1700000000000L
    val skewTs = ts0 + 3500 // between v3 (+3000) and v4 (+4000)
    java.nio.file.Files.write(
      new java.io.File(d, "_delta_log/" + f"${5L}%020d.json").toPath,
      (s"""{"commitInfo":{"timestamp":$skewTs,"operation":"WRITE"}}""" + "\n" +
        s"""{"add":{"path":"f0.parquet","partitionValues":{},"size":1,""" +
        s""""modificationTime":$skewTs,"dataChange":true,""" +
        """"stats":"{\"numRecords\":1}"}}""" + "\n").getBytes("UTF-8"))
    assert(DeltaMeta.versionAt(spark, d, ts0 + 99999) === 5L)
    // monotonic adjustment (the Delta-reader rule): v5's skewed raw
    // timestamp (+3500) adjusts to v4's + 1 ms (+4001), so a probe in
    // the skew window resolves to v3 — the skewed commit can neither
    // hide v4 nor claim a probe that predates its true commit order
    assert(DeltaMeta.versionAt(spark, d, ts0 + 3600) === 3L)
    assert(DeltaMeta.versionAt(spark, d, ts0 + 4000) === 4L)
    assert(DeltaMeta.versionAt(spark, d, ts0 + 4001) === 5L)
    assert(DeltaMeta.versionAt(spark, d, ts0 + 3499) === 3L)
  }

  test("log cleanup: txn/protocol/schema survive via the checkpoint") {
    val d = Files.createTempDirectory("graft_delta_clean").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    // partial cleanup: commits 0..2 deleted (the checkpoint covers them)
    log.listFiles().filter(f => f.getName.endsWith(".json") &&
      DeltaMeta.segmentVersion(f.getName).exists(_._1 <= 2L))
      .foreach(_.delete())
    // schema history: the checkpoint's preserved metaData becomes the
    // BASELINE row (tagged with the checkpoint version), the v4
    // evolution still comes from its surviving commit
    val hist = DeltaMeta.schemaHistory(spark, d).orderBy("version").collect()
    assert(hist.map(_.getAs[Long]("version")).toSeq === Seq(2L, 4L))
    assert(hist(0).getAs[String]("field_names_csv") === "doc_id,lang")
    assert(hist(1).getAs[String]("field_names_csv") === "doc_id,lang,quality")
    // txn and protocol still resolve (commit tail has the winners here)
    val txns = DeltaMeta.latestTransactions(spark, d)
      .orderBy("app_id").collect()
    assert(txns.map(r => (r.getString(0), r.getAs[Long]("txn_version"))).toSeq
      === Seq(("ingest-a", 11L), ("ingest-b", 7L)))
    assert(DeltaMeta.protocolInfo(spark, d).collect()(0)
      .getAs[Int]("min_reader_version") === 1)
    // full cleanup: ONLY the checkpoint survives — every report must
    // answer from its preserved actions alone
    log.listFiles().filter(_.getName.endsWith(".json")).foreach(_.delete())
    val ckptTxns = DeltaMeta.latestTransactions(spark, d).collect()
    assert(ckptTxns.length === 1)
    assert(ckptTxns(0).getString(0) === "ingest-a")
    assert(ckptTxns(0).getAs[Long]("txn_version") === 10L)
    assert(ckptTxns(0).getAs[Long]("table_version") === 2L)
    val p = DeltaMeta.protocolInfo(spark, d).collect()(0)
    assert(p.getAs[Int]("min_reader_version") === 1)
    assert(p.getAs[Boolean]("supported"))
    val baseline = DeltaMeta.schemaHistory(spark, d).collect()
    assert(baseline.length === 1)
    assert(baseline(0).getAs[Long]("version") === 2L)
    assert(baseline(0).getAs[String]("field_names_csv") === "doc_id,lang")
  }

  test("protocol report refuses when no protocol action survives") {
    val d = Files.createTempDirectory("graft_delta_noproto").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val log = new java.io.File(d, "_delta_log")
    // delete the checkpoint and commit 0 — the only protocol carriers
    log.listFiles().filter(f => f.getName.contains("checkpoint") ||
      f.getName == "_last_checkpoint" ||
      DeltaMeta.segmentVersion(f.getName).exists(_._1 == 0L))
      .foreach(_.delete())
    val e = intercept[IllegalArgumentException](
      DeltaMeta.protocolInfo(spark, d).collect())
    assert(e.getMessage.contains("no protocol action"))
  }

  test("schema conformance surfaces live files with no footer evidence") {
    val d = Files.createTempDirectory("graft_delta_conf").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    // a live file gone from disk (failed copy, manual delete): the
    // audit must SURFACE it with null evidence, not drop the row
    assert(new java.io.File(d, "f6.parquet").delete())
    val rows = DeltaMeta.schemaConformance(spark, d).collect()
    assert(rows.length === 5) // still the full live set
    val f6 = rows.find(_.getString(0).endsWith("f6.parquet")).get
    assert(f6.getAs[Int]("n_declared") === 3)
    assert(f6.isNullAt(f6.fieldIndex("n_present")))
    assert(f6.isNullAt(f6.fieldIndex("missing_csv")))
    rows.filterNot(_.getString(0).endsWith("f6.parquet")).foreach { r =>
      assert(r.getAs[Int]("n_present") === 2)
      assert(r.getAs[String]("missing_csv") === "quality")
    }
  }

  test("column mapping (name mode): conformance and prune translate") {
    val d = Files.createTempDirectory("graft_delta_cm").toString + "/tbl"
    DeltaMeta.writeColumnMappedFixtureTable(spark, d, docs)
    val (mode, mapping, _) = DeltaMeta.columnMappingInfo(spark, d)
    assert(mode === "name")
    assert(mapping === Map("doc_id" -> "c1", "lang" -> "c2", "quality" -> "c3"))
    // conformance speaks LOGICAL but joins PHYSICAL: every file has c1
    // (= doc_id), none has c3 (= quality); the partition column lang
    // is excluded (it never lives inside data files)
    val rows = DeltaMeta.schemaConformance(spark, d).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_declared") === 2)
      assert(r.getAs[Int]("n_present") === 1)
      assert(r.getAs[String]("missing_csv") === "quality")
    }
    // partition pruning translates lang -> c2 before the lookup (the
    // add actions key partitionValues by the PHYSICAL name)
    val live = DeltaMeta.snapshotFiles(spark, d)
    assert(live.filter(element_at(col("partition_values"), "lang") === "zh")
      .count() === 0L) // mapping-blind prune silently matches nothing
    val pruned = live
      .filter(element_at(col("partition_values"), mapping("lang")) === "zh")
      .select("path").collect().map(_.getString(0)).toSet
    assert(pruned === Set("p2.parquet", "p3.parquet"))
    // an UNKNOWN mapping mode refuses, never misreports (id is now
    // supported — see the id-mode test below)
    val ts3 = 1700000003000L
    java.nio.file.Files.write(
      new java.io.File(d, "_delta_log/" + f"${3L}%020d.json").toPath,
      (s"""{"commitInfo":{"timestamp":$ts3,"operation":"SET TBLPROPERTIES"}}""" + "\n" +
        s"""{"metaData":{"id":"graft-colmap","format":{"provider":"parquet","options":{}},""" +
        s""""schemaString":"{}","partitionColumns":["lang"],""" +
        s""""configuration":{"delta.columnMapping.mode":"banana"},"createdTime":$ts3}}""" + "\n")
        .getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException](
      DeltaMeta.schemaConformance(spark, d).collect())
    assert(e.getMessage.contains("columnMapping mode 'banana'"))
  }

  test("column mapping (id mode): conformance matches by parquet field id") {
    val d = Files.createTempDirectory("graft_delta_cmid").toString + "/tbl"
    DeltaMeta.writeColumnMappedIdFixtureTable(spark, d, docs)
    val (mode, _, fieldIds) = DeltaMeta.columnMappingInfo(spark, d)
    assert(mode === "id")
    assert(fieldIds === Map("doc_id" -> 1L, "lang" -> 2L, "quality" -> 3L))
    // the footers REALLY carry the id (Spark's parquet.field.id channel
    // → Thrift SchemaElement.field_id → the reconstructed schema string)
    val facts = MetaValues.schemaFactsDf(spark, d).collect()
    assert(facts.nonEmpty)
    assert(facts.forall(r => r.getAs[Int]("top_field_id") === 1))
    // conformance: doc_id matches by id 1 in every file; quality (id 3)
    // is missing everywhere; the partition column lang is excluded
    val rows = DeltaMeta.schemaConformance(spark, d).collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      assert(r.getAs[Int]("n_declared") === 2)
      assert(r.getAs[Int]("n_present") === 1)
      assert(r.getAs[String]("missing_csv") === "quality")
    }
    // a declared field WITHOUT delta.columnMapping.id refuses under id
    // mode (its footer identity is unknowable)
    val logDir = new java.io.File(d, "_delta_log")
    val ts3 = 1700000003000L
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${3L}%020d.json").toPath,
      (s"""{"commitInfo":{"timestamp":$ts3,"operation":"ADD COLUMNS"}}""" + "\n" +
        s"""{"metaData":{"id":"graft-colmap-id","format":{"provider":"parquet","options":{}},""" +
        """"schemaString":"{\"type\":\"struct\",\"fields\":[""" +
        """{\"name\":\"doc_id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}",""" +
        s""""partitionColumns":[],"configuration":{"delta.columnMapping.mode":"id"},"createdTime":$ts3}}""" + "\n")
        .getBytes("UTF-8"))
    val e = intercept[Exception](DeltaMeta.schemaConformance(spark, d).collect())
    assert(causeMessages(e).contains("carries no delta.columnMapping.id"))
  }

  test("deletion-vector payloads decode to per-row positions") {
    val d = Files.createTempDirectory("graft_delta_dvb").toString + "/tbl"
    DeltaMeta.writeDvBitmapFixtureTable(spark, d, docs)
    val pos = DeltaMeta.deletedPositions(spark, d).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // inline Z85 payload on f0, u-storage framed file on f1
    assert(pos === Set(
      ("f0.parquet", 1L), ("f0.parquet", 3L), ("f0.parquet", 5L),
      ("f1.parquet", 0L), ("f1.parquet", 2L)))
    // positions join the files' OWN rows: f0 is the even doc_ids
    // sorted, so position k holds doc_id 2k — deleted {2, 6, 10};
    // f1 odd sorted, position k holds 2k+1 — deleted {1, 5}
    val rows = spark.read.parquet(d + "/f0.parquet", d + "/f1.parquet")
      .select(col("doc_id"),
        regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1).as("file"),
        col("_metadata.row_index").as("ridx"))
    val posDf = DeltaMeta.deletedPositions(spark, d)
    val deleted = posDf
      .join(rows, posDf("path") === rows("file") && posDf("pos") === rows("ridx"))
      .select("path", "doc_id").collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    assert(deleted("f0.parquet") === Set(2L, 6L, 10L))
    assert(deleted("f1.parquet") === Set(1L, 5L))
    // descriptor-vs-payload cardinality disagreement refuses: corrupt
    // the cardinality in the log
    val log = new java.io.File(d, "_delta_log")
    val v1 = new java.io.File(log, f"${1L}%020d.json")
    val txt = new String(java.nio.file.Files.readAllBytes(v1.toPath), "UTF-8")
    java.nio.file.Files.write(v1.toPath,
      txt.replace("\"cardinality\":3", "\"cardinality\":4").getBytes("UTF-8"))
    val e = intercept[Exception](DeltaMeta.deletedPositions(spark, d).collect())
    assert(causeMessages(e).contains("refusing to miscount"))
  }

  test("restore plan: re-add what left, remove what arrived, no-op refuses") {
    val d = Files.createTempDirectory("graft_delta_restore").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d, docs)
    val plan = DeltaMeta.restorePlan(spark, d, 1L).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // live(1) = f0-f3; live(4) = f0,f3,f4,f5,f6
    assert(plan === Set(
      ("re_add", "f1.parquet"), ("re_add", "f2.parquet"),
      ("remove", "f4.parquet"), ("remove", "f5.parquet"),
      ("remove", "f6.parquet")))
    // restoring to the current version is an empty plan — refused
    val eNoop = intercept[Exception](DeltaMeta.restorePlan(spark, d, 4L))
    assert(causeMessages(eNoop).contains("IS the current state"))
    // beyond-latest rides snapshotFilesAt's refusal
    val eHigh = intercept[Exception](DeltaMeta.restorePlan(spark, d, 99L))
    assert(causeMessages(eHigh).contains("after the latest"))
  }

  test("change feed: cdc authority, derived inserts/deletes, refusals") {
    val d = Files.createTempDirectory("graft_delta_cdf").toString + "/tbl"
    val counts = DeltaMeta.writeCdfFixtureTable(spark, d, docs)
    val feed = DeltaMeta.changeFeed(spark, d, 0L, 2L)
      .groupBy("_commit_version", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // v0: file-granularity inserts from both adds
    assert(feed((0L, "insert")) ===
      counts("f0.parquet") + counts("f1.parquet"))
    // v1: ONLY the cdc file's rows — the add/remove pair is superseded
    assert(feed((1L, "update_preimage")) === 3L)
    assert(feed((1L, "update_postimage")) === 3L)
    assert(!feed.contains((1L, "insert")) && !feed.contains((1L, "delete")))
    // v2: file-granularity deletes from the cdc-less remove
    assert(feed((2L, "delete")) === counts("f1.parquet"))
    // a single-commit window narrows to that commit's changes
    assert(DeltaMeta.changeFeed(spark, d, 2L, 2L)
      .select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("delete"))
    // reversed and beyond-latest ranges refuse
    val eRev = intercept[Exception](DeltaMeta.changeFeed(spark, d, 2L, 1L))
    assert(causeMessages(eRev).contains("reversed"))
    val eHigh = intercept[Exception](DeltaMeta.changeFeed(spark, d, 0L, 9L))
    assert(causeMessages(eHigh).contains("after the latest"))
  }

  test("change feed: ambiguous cdc-less shapes and CDF-off ranges refuse") {
    val d = Files.createTempDirectory("graft_delta_cdf2").toString + "/tbl"
    DeltaMeta.writeCdfFixtureTable(spark, d, docs)
    val logDir = new java.io.File(d, "_delta_log")
    def writeCommit(v: Long, lines: Seq[String]): Unit =
      java.nio.file.Files.write(
        new java.io.File(logDir, f"$v%020d.json").toPath,
        lines.mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // v3: cdc-less commit mixing dataChange adds AND removes of
    // DIFFERENT files — an update-rewrite whose row pairing is
    // unknowable without cdc
    writeCommit(3, Seq(
      """{"commitInfo":{"timestamp":1700000003000,"operation":"MERGE"}}""",
      """{"add":{"path":"f0.parquet","partitionValues":{},"size":10,""" +
        """"modificationTime":1700000003000,"dataChange":true}}""",
      """{"remove":{"path":"f1.parquet","deletionTimestamp":1700000003000,""" +
        """"dataChange":true}}"""))
    // v4: same-path dataChange add+remove with NO deletion vectors —
    // an in-place rewrite whose row-level changes are unknowable
    writeCommit(4, Seq(
      """{"commitInfo":{"timestamp":1700000004000,"operation":"OPTIMIZE?"}}""",
      """{"add":{"path":"f2.parquet","partitionValues":{},"size":10,""" +
        """"modificationTime":1700000004000,"dataChange":true}}""",
      """{"remove":{"path":"f2.parquet","deletionTimestamp":1700000004000,""" +
        """"dataChange":true}}"""))
    val eMix = intercept[Exception](DeltaMeta.changeFeed(spark, d, 3L, 3L))
    assert(causeMessages(eMix).contains("mixes"))
    val eRw = intercept[Exception](DeltaMeta.changeFeed(spark, d, 4L, 4L))
    assert(causeMessages(eRw).contains("rewrites"))
    // the untouched prefix still reads
    assert(DeltaMeta.changeFeed(spark, d, 0L, 2L).count() > 0)
    // a table whose metaData never enabled CDF refuses outright
    val off = Files.createTempDirectory("graft_delta_cdfoff").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, off, docs)
    val eOff = intercept[Exception](DeltaMeta.changeFeed(spark, off, 1L, 2L))
    assert(causeMessages(eOff).contains("enableChangeDataFeed"))
  }

  test("change feed: deletion-vector commits resolve row-wise") {
    val d = Files.createTempDirectory("graft_delta_cdfdv").toString + "/tbl"
    val counts = DeltaMeta.writeCdfDvFixtureTable(spark, d, docs)
    def posOf(f: String, ps: Seq[Long]): Set[Long] =
      spark.read.parquet(s"$d/$f")
        .withColumn("pos", col("_metadata.row_index"))
        .filter(col("pos").isin(ps: _*))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val feed = DeltaMeta.changeFeed(spark, d, 0L, 3L)
      .select("doc_id", "_change_type", "_commit_version").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // v0: whole-file inserts
    assert(feed.count(x => x._2 == "insert" && x._3 == 0L) ===
      counts("f0.parquet") + counts("f1.parquet"))
    // v1: the inline DV's positions {1,3} of f0 die — exactly those
    val v1 = feed.filter(x => x._2 == "delete" && x._3 == 1L)
      .map(_._1).toSet
    assert(v1 === posOf("f0.parquet", Seq(1L, 3L)))
    // v2: the widened u-storage DV kills ONLY the new position 5
    val v2 = feed.filter(x => x._2 == "delete" && x._3 == 2L)
      .map(_._1).toSet
    assert(v2 === posOf("f0.parquet", Seq(5L)))
    // v3: f1 removed carrying a DV over {0} — the live REMAINDER dies
    val v3 = feed.filter(x => x._2 == "delete" && x._3 == 3L)
      .map(_._1).toSet
    assert(v3.size === counts("f1.parquet") - 1)
    assert(!v3.contains(posOf("f1.parquet", Seq(0L)).head))
    // an UN-delete (old DV marks a position the new one drops) refuses:
    // v4 pairs remove(wide u-DV from v2's add) + add(narrow inline DV
    // from v2's remove) — position 5 would resurrect
    val logDir = new java.io.File(d, "_delta_log")
    val v2Json = new String(java.nio.file.Files.readAllBytes(
      new java.io.File(logDir, f"${2L}%020d.json").toPath), "UTF-8")
    val narrow = v2Json.linesIterator.find(_.contains("\"remove\""))
      .get.replace("\"remove\"", "\"add\"")
      .replace("\"deletionTimestamp\":1700000002000,",
        "\"partitionValues\":{},\"size\":10," +
          "\"modificationTime\":1700000004000,")
    val wide = v2Json.linesIterator.find(_.contains("\"add\""))
      .get.replace("\"add\"", "\"remove\"")
    java.nio.file.Files.write(
      new java.io.File(logDir, f"${4L}%020d.json").toPath,
      Seq("""{"commitInfo":{"timestamp":1700000004000,"operation":"RESTORE"}}""",
        wide, narrow).mkString("", "\n", "\n").getBytes("UTF-8"))
    val eUndel = intercept[Exception](
      DeltaMeta.changeFeed(spark, d, 4L, 4L).collect())
    assert(causeMessages(eUndel).contains("UN-deletes"))
  }

  test("streaming change-feed store: split ranges equal the one-shot feed") {
    val d = Files.createTempDirectory("graft_delta_cdfs").toString + "/tbl"
    DeltaMeta.writeCdfFixtureTable(spark, d, docs)
    val store = Files.createTempDirectory("graft_delta_cdfsd").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_delta_cdfsc").toString
    // pass A: commit 2 staged OUTSIDE the log — only [0,1] feeds
    val v2 = new java.io.File(d, "_delta_log/00000000000000000002.json")
    val aside = new java.io.File(d, "aside_2.json")
    require(v2.renameTo(aside))
    DeltaMeta.maintainChangeFeedStore(spark, d, store, ckpt)
    val incA = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("feed_")).toSet
    assert(incA === Set("feed_0_1"))
    // pass B: commit 2 lands; EXACTLY [2,2] feeds (seen segments
    // never re-trigger)
    require(aside.renameTo(v2))
    val mt = System.currentTimeMillis()
    v2.setLastModified(mt + 1)
    DeltaMeta.maintainChangeFeedStore(spark, d, store, ckpt)
    val incB = new java.io.File(store).listFiles()
      .map(_.getName).filter(_.startsWith("feed_")).toSet
    assert(incB === Set("feed_0_1", "feed_2_2"))
    // the union of split-range increments equals the one-shot feed
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select("doc_id", "_change_type", "_commit_version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = canon(DeltaMeta.readChangeFeedStore(spark, store))
    assert(streamed === canon(DeltaMeta.changeFeed(spark, d, 0L, 2L)))
    // a third pass with nothing new is a no-op (idempotent store)
    DeltaMeta.maintainChangeFeedStore(spark, d, store, ckpt)
    assert(canon(DeltaMeta.readChangeFeedStore(spark, store)) === streamed)
  }

  test("row-tracking audit: overlapping baseRowId ranges flagged") {
    val d = Files.createTempDirectory("graft_delta_rt").toString + "/tbl"
    val counts = DeltaMeta.writeRowTrackingFixtureTable(spark, d, docs)
    val rows = DeltaMeta.rowTrackingAudit(spark, d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(4)))).toMap
    val (n0, n1) = (counts("f0.parquet"), counts("f1.parquet"))
    assert(rows("f0.parquet") === ((0L, true)))
    assert(rows("f1.parquet") === ((n0, true)))
    // f2's base dips 3 ids into f1's range — the collision flags
    assert(rows("f2.parquet") === ((n0 + n1 - 3, false)))
    // a table with no row-tracking evidence refuses
    val d2 = Files.createTempDirectory("graft_delta_rt2").toString + "/tbl"
    DeltaMeta.writeFixtureTable(spark, d2, docs)
    val eNone = intercept[Exception](
      DeltaMeta.rowTrackingAudit(spark, d2).collect())
    assert(causeMessages(eNone).contains("not in evidence"))
    // LOG-CLEANED table: commit 0's adds survive only in a checkpoint
    // — the audit folds the checkpoint's trackAdd fields in and the
    // answers are identical to the un-cleaned table
    locally {
      import spark.implicits._
      val logDir = new java.io.File(d, "_delta_log")
      val adds = Seq("f0.parquet" -> 0L, "f1.parquet" -> n0).map {
        case (f, base) =>
          (f, new java.io.File(d, f).length(), 1700000000000L, base, 0L,
            s"""{"numRecords":${counts(f)}}""")
      }
      val ckpt = adds
        .toDF("p", "sz", "mt", "base", "rcv", "st")
        .select(struct(col("p").as("path"),
          typedLit(Map.empty[String, String]).as("partitionValues"),
          col("sz").as("size"), col("mt").as("modificationTime"),
          lit(true).as("dataChange"), col("st").as("stats"),
          col("base").as("baseRowId"),
          col("rcv").as("defaultRowCommitVersion")).as("add"))
      val tmp = d + "_ckpttmp"
      ckpt.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(logDir,
          "00000000000000000000.checkpoint.parquet").toPath)
      java.nio.file.Files.delete(
        new java.io.File(logDir, "00000000000000000000.json").toPath)
      val cleaned = DeltaMeta.rowTrackingAudit(spark, d).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getBoolean(4))))
        .toMap
      assert(cleaned === rows)
    }
  }
}
