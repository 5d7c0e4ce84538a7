package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Hudi MERGE-ON-READ tier on the hand-written MOR fixture:
  * deltacommit timeline, file-group resolution (base slice + declared
  * log chain), base-footer conformance with logs untouched, time
  * travel, compaction supersession, and the refusal posture — plus
  * the bare `<instant>.inflight` commit-marker parse and clean-aware
  * time travel on the COW side. */
class HudiMorSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(sf("0.001") + "/documents.parquet")

  private val (dc1, dc2, dc3) =
    ("20240101000000000", "20240102000000000", "20240103000000000")

  private def fresh(): (String, Map[String, Long]) = {
    val d = Files.createTempDirectory("graft_hudimor").toString + "/tbl"
    (d, HudiMeta.writeHudiMorFixtureTable(spark, d, docs))
  }

  test("timeline: deltacommit states and the bare .inflight marker") {
    val (d, _) = fresh()
    val rows = HudiMeta.timelineReport(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(rows.length === 11)
    // the bare <instant>.inflight is a COMMIT-inflight marker, never a
    // completed 'inflight' action
    assert(rows.contains(("20240105000000000", "commit", "inflight")))
    assert(!rows.exists(r => r._2 == "inflight"))
    assert(rows.count(r => r._2 == "deltacommit" && r._3 == "completed") === 3)
  }

  test("file groups: latest base slice plus its declared log chain") {
    val (d, counts) = fresh()
    val fg = HudiMeta.morFileGroups(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(fg.keySet === Set("fid0", "fid1", "fid2"))
    val f0 = fg("fid0")
    assert(f0.getAs[String]("base_instant") === dc1)
    assert(f0.getAs[Long]("n_logs") === 2L)
    assert(f0.getAs[Long]("declared_log_rows") === 5L)
    assert(f0.getAs[String]("log_paths_csv") ===
      s"p=0/.fid0_$dc1.log.1_0-0-0,p=0/.fid0_$dc1.log.2_0-0-0")
    assert(fg("fid1").getAs[Long]("n_logs") === 0L)
    assert(fg("fid2").getAs[String]("base_instant") === dc2)
    // declared base rows = writer contract (fid1's +1 lie included)
    assert(f0.getAs[Long]("declared_base_rows") ===
      counts(s"p=0/fid0_0-0-0_$dc1.parquet"))
    assert(fg("fid1").getAs[Long]("declared_base_rows") ===
      counts(s"p=0/fid1_0-0-0_$dc1.parquet") + 1)
  }

  test("time travel: logs and later groups drop with the window") {
    val (d, _) = fresh()
    val atDc1 = HudiMeta.morFileGroups(spark, d, Some(dc1)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_logs")).toMap
    assert(atDc1 === Map("fid0" -> 0L, "fid1" -> 0L))
    val atDc2 = HudiMeta.morFileGroups(spark, d, Some(dc2)).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_logs")).toMap
    assert(atDc2 === Map("fid0" -> 1L, "fid1" -> 0L, "fid2" -> 0L))
    // an instant with no completed write refuses
    val e = intercept[IllegalArgumentException] {
      HudiMeta.morFileGroups(spark, d, Some("20240104000000000")).collect()
    }
    assert(e.getMessage.contains("no completed commit/deltacommit"))
  }

  test("census: base conformance flags the lie, log files never opened") {
    val (d, counts) = fresh()
    // corrupt both log payloads: if the census ever opened a log as
    // parquet it would fail here
    Seq(1, 2).foreach { v =>
      Files.write(new java.io.File(d,
        s"p=0/.fid0_$dc1.log.${v}_0-0-0").toPath,
        Array.fill[Byte](16)(0x00))
    }
    val census = HudiMeta.morCensus(spark, d).collect()
      .map(r => r.getString(0) ->
        ((r.getAs[Long]("declared_base_rows"),
          r.getAs[Long]("footer_base_rows"),
          r.getAs[Boolean]("base_match")))).toMap
    val n1 = counts(s"p=0/fid1_0-0-0_$dc1.parquet")
    assert(census("fid1") === ((n1 + 1, n1, false)))
    assert(census("fid0")._3 && census("fid2")._3)
  }

  test("compaction: a commit's new base supersedes the log chain") {
    val (d, _) = fresh()
    val dc4 = "20240104010000000"
    // the compacted base: fid0's rows rewritten (content irrelevant to
    // group resolution — copy the dc1 base bytes under the new name)
    val oldBase = new java.io.File(d, s"p=0/fid0_0-0-0_$dc1.parquet")
    val newRel = s"p=0/fid0_0-0-0_$dc4.parquet"
    Files.copy(oldBase.toPath, new java.io.File(d, newRel).toPath)
    Files.write(new java.io.File(d, s".hoodie/$dc4.commit").toPath,
      (s"""{"partitionToWriteStats":{"p=0":[{"fileId":"fid0",""" +
        s""""path":"$newRel","numWrites":7,"totalWriteBytes":1,""" +
        s""""partitionPath":"p=0"}]},"operationType":"compact"}""")
        .getBytes("UTF-8"))
    val f0 = HudiMeta.morFileGroups(spark, d).collect()
      .map(r => r.getString(0) -> r).toMap.apply("fid0")
    assert(f0.getAs[String]("base_instant") === dc4)
    // logs attached to the dc1 slice drop out with it
    assert(f0.getAs[Long]("n_logs") === 0L)
    assert(f0.getAs[String]("log_paths_csv") === "")
    // ... and the MOR clean plan reclaims exactly the superseded
    // slice PLUS its stranded log chain (r19)
    val plan = HudiMeta.morCleanPlan(spark, d, 1).collect()
      .map(r => (r.getString(2), r.getBoolean(3), r.getString(6))).toSet
    assert(plan === Set(
      (s"p=0/fid0_0-0-0_$dc1.parquet", false, "superseded"),
      (s"p=0/.fid0_$dc1.log.1_0-0-0", true, "superseded"),
      (s"p=0/.fid0_$dc1.log.2_0-0-0", true, "superseded")))
  }

  test("incremental pull windows deltacommits exactly, logs included") {
    val (d, counts) = fresh()
    // bootstrap: dc1's two base inserts
    val boot = HudiMeta.morIncrementalPull(spark, d, "0", dc1).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Boolean]("is_log")))
    assert(boot.toSet === Set(
      (s"p=0/fid0_0-0-0_$dc1.parquet", false),
      (s"p=0/fid1_0-0-0_$dc1.parquet", false)))
    // (dc1, dc3]: the two log appends + fid2's base
    val inc = HudiMeta.morIncrementalPull(spark, d, dc1, dc3).collect()
      .map(r => (r.getAs[String]("path"), r.getAs[Boolean]("is_log"),
        r.getAs[Long]("declared_rows")))
    assert(inc.toSet === Set(
      (s"p=0/.fid0_$dc1.log.1_0-0-0", true, 3L),
      (s"p=0/.fid0_$dc1.log.2_0-0-0", true, 2L),
      (s"p=1/fid2_0-0-0_$dc2.parquet", false,
        counts(s"p=1/fid2_0-0-0_$dc2.parquet"))))
    // bad anchors refuse
    val e = intercept[IllegalArgumentException] {
      HudiMeta.morIncrementalPull(spark, d, "0", "20240104000000000")
    }
    assert(e.getMessage.contains("not a completed"))
    intercept[IllegalArgumentException] {
      HudiMeta.morIncrementalPull(spark, d, dc3, dc1)
    }
  }

  test("streaming MOR increments: each deltacommit lands exactly once") {
    val (d, counts) = fresh()
    val store = Files.createTempDirectory("graft_hudimor_st").toString + "/s"
    val ckpt = Files.createTempDirectory("graft_hudimor_ck").toString
    // pass A: dc3's completion marker has not arrived yet
    val f3 = new java.io.File(d, s".hoodie/$dc3.deltacommit")
    val aside = new java.io.File(d, "aside.deltacommit")
    assert(f3.renameTo(aside))
    HudiMeta.maintainMorIncrementsStore(spark, d, store, ckpt)
    val passA = HudiMeta.readMorIncrementsStore(spark, store).collect()
      .map(r => (r.getAs[String]("instant_time"), r.getAs[Boolean]("is_log")))
    assert(passA.toSet === Set((dc1, false), (dc2, false), (dc2, true)))
    assert(passA.length === 4) // dc1's two bases + dc2's base + log
    // pass B: dc3 completes; EXACTLY its log append lands
    assert(aside.renameTo(f3))
    f3.setLastModified(System.currentTimeMillis() + 1)
    HudiMeta.maintainMorIncrementsStore(spark, d, store, ckpt)
    val all = HudiMeta.readMorIncrementsStore(spark, store).collect()
    assert(all.length === 5)
    val dc3Rows = all.filter(_.getAs[String]("instant_time") == dc3)
    assert(dc3Rows.length === 1 && dc3Rows.head.getAs[Boolean]("is_log") &&
      dc3Rows.head.getAs[Long]("declared_rows") === 2L)
    // declared rows ride as declared (fid1's +1 lie)
    val dc1Rows = all.filter(_.getAs[String]("instant_time") == dc1)
    assert(dc1Rows.map(_.getAs[Long]("declared_rows")).sum ===
      counts(s"p=0/fid0_0-0-0_$dc1.parquet") +
        counts(s"p=0/fid1_0-0-0_$dc1.parquet") + 1)
    // a third pass with nothing new is a no-op
    HudiMeta.maintainMorIncrementsStore(spark, d, store, ckpt)
    assert(HudiMeta.readMorIncrementsStore(spark, store).count() === 5L)
  }

  test("refusals: opaque replacecommit, COW surfaces on MOR, clean travel") {
    val (d, _) = fresh()
    // a replacecommit hiding what it replaced refuses (same contract
    // as the COW side — modeling replacement needs the declared ids)
    Files.write(
      new java.io.File(d, ".hoodie/20240106000000000.replacecommit").toPath,
      "{}".getBytes("UTF-8"))
    val eRc = intercept[IllegalArgumentException] {
      HudiMeta.morFileGroups(spark, d).collect()
    }
    assert(eRc.getMessage.contains("partitionToReplaceFileIds"))
    // the COW-only surfaces still refuse a MOR table up front
    val (d2, _) = fresh()
    val eCow = intercept[UnsupportedOperationException] {
      HudiMeta.liveFiles(spark, d2).collect()
    }
    assert(eCow.getMessage.contains("MERGE_ON_READ") ||
      eCow.getMessage.contains("deltacommit"))
    // time travel behind a completed clean refuses (cleaned slices are
    // gone from disk; never a mid-scan missing-file failure)
    val (d3, _) = fresh()
    Files.write(
      new java.io.File(d3, ".hoodie/20240106000000000.clean").toPath,
      "{}".getBytes("UTF-8"))
    val eClean = intercept[UnsupportedOperationException] {
      HudiMeta.morFileGroups(spark, d3, Some(dc1)).collect()
    }
    assert(eClean.getMessage.contains("clean"))
    // ...but the PRESENT view is unaffected by a clean
    assert(HudiMeta.morFileGroups(spark, d3).count() === 3L)
  }

  test("a many-commit synthetic timeline: three states per instant, " +
      "one group per file id across rewrites and log appends") {
    // commit i declares perCommit writes over nGroups file groups: a
    // group's first write is a base insert, later ones alternate base
    // rewrites and log appends on its latest base slice. No data file
    // exists — resolution is commit-metadata-driven.
    val (nCommits, perCommit) = (20, 8)
    val nGroups = nCommits * perCommit / 10
    val root = Files.createTempDirectory("graft_hudimor_tl").toFile
    val hoodie = new java.io.File(root, ".hoodie")
    hoodie.mkdirs()
    Files.write(new java.io.File(hoodie, "hoodie.properties").toPath,
      ("hoodie.table.name=graft_tl\n" +
        "hoodie.table.type=MERGE_ON_READ\n").getBytes("UTF-8"))
    def instant(i: Int): String = f"2024010100${i}%07d"
    val baseInstant = new Array[String](nGroups)
    (0 until nCommits).foreach { i =>
      val ts = instant(i)
      val byPart = (0 until perCommit).map { j =>
        val g = (i * perCommit + j) % nGroups
        val part = s"p=${g % 4}"
        val stat =
          if (baseInstant(g) == null || (i + j) % 3 == 0) {
            baseInstant(g) = ts
            s"""{"fileId":"g$g","path":"$part/g${g}_0-0-0_$ts.parquet",""" +
              s""""numWrites":100,"totalWriteBytes":4096,""" +
              s""""partitionPath":"$part"}"""
          } else {
            val bi = baseInstant(g)
            s"""{"fileId":"g$g","path":"$part/.g${g}_$bi.log.${i % 7 + 1}_0-0-0",""" +
              s""""baseFile":"g${g}_0-0-0_$bi.parquet","numWrites":10,""" +
              s""""totalWriteBytes":512,""" +
              s""""partitionPath":"$part"}"""
          }
        part -> stat
      }.groupBy(_._1).toSeq.sortBy(_._1)
      val body = byPart.map { case (p, ss) =>
        s""""$p":[${ss.map(_._2).mkString(",")}]"""
      }.mkString("{\"partitionToWriteStats\":{", ",",
        "},\"operationType\":\"upsert\"}")
      Files.write(new java.io.File(hoodie, s"$ts.deltacommit").toPath,
        body.getBytes("UTF-8"))
      Seq("requested", "inflight").foreach { st =>
        Files.write(new java.io.File(hoodie, s"$ts.deltacommit.$st").toPath,
          Array.empty[Byte])
      }
    }
    val d = root.getPath
    assert(HudiMeta.timelineReport(spark, d).count() === nCommits * 3L)
    assert(HudiMeta.morFileGroups(spark, d).count() === nGroups.toLong)
  }
}
