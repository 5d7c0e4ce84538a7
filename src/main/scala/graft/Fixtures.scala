package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.{AvroMeta, DeltaMeta, Fp16Fixture, HudiMeta, IcebergMeta}

/** The one registry of the query inventory's on-disk fixtures: every
  * `/tmp/graft_<key><sfx>` table a query builds, named once with its
  * builder and its rebuild rule. The DuckDB oracles read these paths by
  * literal, so a key here and the path in its oracle SQL change together
  * or not at all. Queries that write their own files inline (the parquet,
  * ORC, layout and stream tiers) take their path from [[fixtureDir]]. */
private[graft] object Fixtures {
  import EntryHelpers.{input, sfx}

  /** When a fixture is (re)built. */
  sealed trait Kind
  /** Built once per JVM, under the dir's lock, and again if the dir has
    * vanished (the hermetic pre-clean, a manual delete); later queries
    * read the first build. A dir left by an older JVM is never trusted.
    * Rule: no query mutates a Shared fixture. A query that plants files,
    * rewinds metadata or edits bytes uses a Fresh fixture of its own. */
  case object Shared extends Kind
  /** Built on every call. */
  case object Fresh extends Kind

  /** `build(session, sfDir, out)` writes the fixture for the sf dir
    * `sfDir` into `out`. */
  final case class Fixture(key: String, kind: Kind,
      build: (SparkSession, String, String) => Unit) {
    /** The fixture's dir for `sfDir`, built as [[kind]] says. */
    def at(s: SparkSession, sfDir: String): String = {
      val out = fixtureDir(sfDir, key)
      kind match {
        case Shared => fixtureOnce(out)(build(s, sfDir, out))
        case Fresh => build(s, sfDir, out)
      }
      out
    }
  }

  /** `/tmp/<key><sfx>`: the dir a fixture of `key` has for the sf dir
    * `sfDir`, the exact path its oracle SQL reads. */
  def fixtureDir(sfDir: String, key: String): String = s"/tmp/$key${sfx(sfDir)}"

  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def fixtureOnce(dir: String)(write: => Unit): Unit = {
    // per-dir lock: two concurrent queries sharing a fixture must not
    // both enter the build (freshDir deletes while the other reads) —
    // the check-then-act below is only safe under the dir's monitor
    val lock = locks.computeIfAbsent(dir, _ => new Object)
    lock.synchronized {
      if (!built.contains(dir) || !new java.io.File(dir).exists()) {
        write
        built.add(dir)
      }
    }
  }

  private val declared = Vector.newBuilder[Fixture]

  private def declare(key: String, kind: Kind)(
      build: (SparkSession, String, String) => Unit): Fixture = {
    val f = Fixture(key, kind, build)
    declared += f
    f
  }

  private type Writer = (SparkSession, String, DataFrame) => Any

  /** A fixture written by `write(session, out, t)` from the sf dir's
    * input table `t`. */
  private def fromTable(key: String, kind: Kind, table: String)(write: Writer) =
    declare(key, kind)((s, dir, out) => write(s, out, input(s, dir, table)))
  private def shared(key: String)(write: Writer) =
    fromTable(key, Shared, "documents")(write)
  private def fresh(key: String, table: String = "documents")(write: Writer) =
    fromTable(key, Fresh, table)(write)

  // Delta
  val delta = shared("graft_delta_")(DeltaMeta.writeFixtureTable)
  val deltadv = shared("graft_deltadv_")(DeltaMeta.writeDvFixtureTable)
  val deltacm = shared("graft_deltacm_")(DeltaMeta.writeColumnMappedFixtureTable)
  val deltaproto = fresh("graft_deltaproto_")(DeltaMeta.writeDvFixtureTable)
  val deltastream = fresh("graft_deltastream_")(DeltaMeta.writeDvFixtureTable)
  val deltapart = fresh("graft_deltapart_")(DeltaMeta.writePartitionedFixtureTable)
  val deltav2 = fresh("graft_deltav2_")(DeltaMeta.writeV2CheckpointFixtureTable)
  val deltav2j = fresh("graft_deltav2j_")(DeltaMeta.writeV2JsonCheckpointFixtureTable)
  val deltamp = fresh("graft_deltamp_")(DeltaMeta.writeMultipartCheckpointFixtureTable)
  val deltacrc = fresh("graft_deltacrc_")(DeltaMeta.writeCrcFixtureTable)
  val deltadvb = fresh("graft_deltadvb_")(DeltaMeta.writeDvBitmapFixtureTable)
  val deltacmid = fresh("graft_deltacmid_")(DeltaMeta.writeColumnMappedIdFixtureTable)
  val deltasp = fresh("graft_deltasp_")(DeltaMeta.writeStatsPruneFixtureTable)
  val deltaict = fresh("graft_deltaict_")(DeltaMeta.writeIctFixtureTable)
  val deltadm = fresh("graft_deltadm_")(DeltaMeta.writeDomainMetadataFixtureTable)
  val deltaclean = fresh("graft_deltaclean_")(DeltaMeta.writeFixtureTable)
  val deltacdf = fresh("graft_deltacdf_")(DeltaMeta.writeCdfFixtureTable)
  val deltacdfstream = fresh("graft_deltacdfstream_")(DeltaMeta.writeCdfFixtureTable)
  val deltacdfdv = fresh("graft_deltacdfdv_")(DeltaMeta.writeCdfDvFixtureTable)
  val deltart = fresh("graft_deltart_")(DeltaMeta.writeRowTrackingFixtureTable)

  // Iceberg
  val iceberg = shared("graft_iceberg_")(IcebergMeta.writeFixtureTable)
  val icepart = shared("graft_icepart_")(IcebergMeta.writePartitionedFixtureTable)
  val icebergv3d = shared("graft_icebergv3d_")(IcebergMeta.writeV3DefaultsFixtureTable)
  val icesum2 = shared("graft_icesum2_")(IcebergMeta.writeSummaryFixtureTable)
  val icerefs = shared("graft_icerefs_")(IcebergMeta.writeRefsFixtureTable)
  val iceeq = shared("graft_iceeq_")(IcebergMeta.writeEqDeleteFixtureTable)
  val icetrans = shared("graft_icetrans_")(IcebergMeta.writeTransientFixtureTable)
  val icebnd = shared("graft_icebnd_")(IcebergMeta.writeBoundsFixtureTable)
  val icesbnd = shared("graft_icesbnd_")(IcebergMeta.writeStringBoundsFixtureTable)
  val icetbnd = shared("graft_icetbnd_")(IcebergMeta.writeTypedBoundsFixtureTable)
  val iceeqp = shared("graft_iceeqp_")(IcebergMeta.writeEqDeletePartitionedFixtureTable)
  val icebkt = shared("graft_icebkt_")(IcebergMeta.writeBucketFixtureTable)
  val iceorph = fresh("graft_iceorph_")(IcebergMeta.writeFixtureTable)
  val icedv = fresh("graft_icedv_")(IcebergMeta.writeDvFixtureTable)
  val icendv = fresh("graft_icendv_")(IcebergMeta.writeNdvFixtureTable(_, _, _))
  val icendvz = fresh("graft_icendvz_")(IcebergMeta.writeNdvFixtureTable(
    _, _, _, blobCodec = Some("zstd"), lz4Footer = true))
  val icemlog = fresh("graft_icemlog_")(IcebergMeta.writeMetadataLogFixtureTable)
  val icepstats = fresh("graft_icepstats_")(IcebergMeta.writePartitionStatsFixtureTable)
  val icestats = fresh("graft_icestats_")(IcebergMeta.writeStatsFixtureTable)
  val icestream = fresh("graft_icestream_")(IcebergMeta.writeFixtureTable)
  val iceapp = fresh("graft_iceapp_")(IcebergMeta.writeFixtureTable)
  val icespec = fresh("graft_icespec_")(IcebergMeta.writeSpecEvolutionFixtureTable)
  val icecomp = fresh("graft_icecomp_")(IcebergMeta.writeCompactedFixtureTable)
  val icexpr = fresh("graft_icexpr_")(IcebergMeta.writeExpiryRefsFixtureTable)
  val icexps = fresh("graft_icexps_")(IcebergMeta.writeExpiryStatsFixtureTable)
  val icesnlog = fresh("graft_icesnlog_")(IcebergMeta.writeSnapshotLogFixtureTable)
  val icerefrd = fresh("graft_icerefrd_")(IcebergMeta.writeRefsFixtureTable)
  val icecl = fresh("graft_icecl_")(IcebergMeta.writeFixtureTable)
  val icedvcl = fresh("graft_icedvcl_")(IcebergMeta.writeDvChangelogFixtureTable)
  val icesumprune = fresh("graft_icesumprune_")(IcebergMeta.writeSummaryPruneFixtureTable)
  val icemet = fresh("graft_icemet_")(IcebergMeta.writeMetricsFixtureTable)
  val icemrg = fresh("graft_icemrg_")(IcebergMeta.writeMergedDeleteFixtureTable)
  val icesort = fresh("graft_icesort_")(IcebergMeta.writeSortOrderFixtureTable)
  val icetrn = fresh("graft_icetrn_")(IcebergMeta.writeTruncateFixtureTable)
  val icerl = fresh("graft_icerl_")(IcebergMeta.writeRowLineageFixtureTable(_, _, _))
  val icerlc = fresh("graft_icerlc_")(
    IcebergMeta.writeRowLineageFixtureTable(_, _, _, plantAnomaly = false))
  val icemon = fresh("graft_icemon_")(
    IcebergMeta.writeTimeTransformFixtureTable(_, _, _, "month"))
  val icehr = fresh("graft_icehr_")(
    IcebergMeta.writeTimeTransformFixtureTable(_, _, _, "hour"))
  val iceyr = fresh("graft_iceyr_")(
    IcebergMeta.writeTimeTransformFixtureTable(_, _, _, "year"))
  val icedays = fresh("graft_icedays_", "events")(IcebergMeta.writeDaysFixtureTable)

  // Hudi
  val hudi = shared("graft_hudi_")(HudiMeta.writeHudiFixtureTable)
  val hudicl = shared("graft_hudicl_")(HudiMeta.writeHudiClusteredFixtureTable)
  val hudimor = shared("graft_hudimor_")(HudiMeta.writeHudiMorFixtureTable)
  val hudimd = shared("graft_hudimd_")(HudiMeta.writeHudiMetadataFixtureTable)
  val hudimdh = shared("graft_hudimdh_")(
    HudiMeta.writeHudiMetadataHFileFixtureTable(_, _, _))
  val hudimdhl = shared("graft_hudimdhl_")(HudiMeta.writeHudiMetadataHFileLogFixtureTable)
  val hudiv1x = shared("graft_hudiv1x_")(HudiMeta.writeHudiV1xFixtureTable)
  val hudimorlog = shared("graft_hudimorlog_")(HudiMeta.writeHudiMorLogFixtureTable)
  val hudicd = shared("graft_hudicd_")(HudiMeta.writeHudiCowDiffFixtureTable)
  val hudimorck = shared("graft_hudimorck_")(HudiMeta.writeHudiMorCompositeFixtureTable)
  val hudimorpc = shared("graft_hudimorpc_")(HudiMeta.writeHudiMorPrecombineFixtureTable)
  val hudicdc = shared("graft_hudicdc_")(HudiMeta.writeHudiMorCdcFixtureTable)
  /** The MOR table after a compaction of fid0 at dc4: the dc1 base is
    * superseded by a copy named for dc4, which a commit declares. */
  val hudimorclean = shared("graft_hudimorclean_") { (s, out, docs) =>
    HudiMeta.writeHudiMorFixtureTable(s, out, docs)
    val dc1 = "20240101000000000"
    val dc4 = "20240104010000000"
    val newRel = s"p=0/fid0_0-0-0_$dc4.parquet"
    java.nio.file.Files.copy(
      new java.io.File(out, s"p=0/fid0_0-0-0_$dc1.parquet").toPath,
      new java.io.File(out, newRel).toPath)
    java.nio.file.Files.write(
      new java.io.File(out, s".hoodie/$dc4.commit").toPath,
      (s"""{"partitionToWriteStats":{"p=0":[{"fileId":"fid0",""" +
        s""""path":"$newRel","numWrites":7,"totalWriteBytes":1,""" +
        s""""partitionPath":"p=0"}]},"operationType":"compact"}""")
        .getBytes("UTF-8"))
  }
  val hudistream = fresh("graft_hudistream_")(HudiMeta.writeHudiFixtureTable)
  val hudimorstream = fresh("graft_hudimorstream_")(HudiMeta.writeHudiMorFixtureTable)
  val hudimorchg = fresh("graft_hudimorchg_")(HudiMeta.writeHudiMorLogFixtureTable)
  val hudicowchg = fresh("graft_hudicowchg_")(HudiMeta.writeHudiCowDiffFixtureTable)

  // Parquet, Avro and mixed-format fixtures of the lake and value tiers
  val fp16 = shared("graft_fp16_")(Fp16Fixture.writeFp16Table)
  /** 20,000 longs in v2 data pages of 1,000 rows. */
  val deltavals = declare("graft_deltavals_", Fresh) { (s, _, out) =>
    s.range(0, 20000, 1, 1)
      .write.mode("overwrite")
      .option("parquet.writer.version", "v2")
      .option("parquet.page.row.count.limit", "1000")
      .parquet(out)
  }
  /** documents' (doc_id, lang) split by `doc_id % 3` into one parquet, one
    * ORC and one Avro file side by side in one dir. */
  val lakecensus = fresh("graft_lakecensus_") { (s, out, documents) =>
    val outF = new java.io.File(out)
    if (outF.exists()) {
      org.apache.commons.io.FileUtils.deleteQuietly(outF)
    }
    outF.mkdirs()
    val docs = documents.select(col("doc_id"), col("lang"))
    // parquet third: doc_id % 3 == 0, one file copied into the mix
    docs.filter(col("doc_id") % 3 === 0).coalesce(1)
      .write.mode("overwrite").parquet(out + "_pq")
    // orc third: % 3 == 1
    docs.filter(col("doc_id") % 3 === 1).coalesce(1)
      .write.mode("overwrite").orc(out + "_orc")
    for ((src, name) <- Seq(out + "_pq" -> "part.parquet",
        out + "_orc" -> "part.orc")) {
      val part = new java.io.File(src).listFiles()
        .filter(f => f.getName.endsWith(".parquet") || f.getName.endsWith(".orc")).head
      java.nio.file.Files.copy(part.toPath,
        new java.io.File(outF, name).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // avro third: % 3 == 2, via avro's own writer
    val avroRows = docs.filter(col("doc_id") % 3 === 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._1)
    AvroMeta.writeFixture(new java.io.File(outF, "part.avro"), avroRows)
  }

  /** Every fixture declared above, in declaration order. */
  lazy val all: Seq[Fixture] = declared.result()
}
