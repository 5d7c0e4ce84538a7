package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The `.hoodie/metadata/` files-partition audit: Hudi's own file
  * index cross-checked against the commit-declared live view — stale
  * and lagging entries flagged, deleted/type-1 records filtered, and
  * the scope refusals (no metadata table, un-compacted logs,
  * non-parquet base) named. */
class HudiMetadataTableSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(sf("0.001") + "/documents.parquet")

  private val (c1, c2) = ("20240101000000000", "20240102000000000")

  private def fresh(): (String, Map[String, Long]) = {
    val d = Files.createTempDirectory("graft_hudimd").toString + "/tbl"
    (d, HudiMeta.writeHudiMetadataFixtureTable(spark, d, docs))
  }

  test("audit: matches, the stale entry, and the lagging index flagged") {
    val (d, rows) = fresh()
    val got = HudiMeta.metadataFilesAudit(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(2),
          if (r.isNullAt(3)) null else java.lang.Long.valueOf(r.getLong(3)),
          r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got === Map(
      ("p=0", s"fid0_0-0-0_$c2.parquet") ->
        ((true, java.lang.Long.valueOf(rows(s"p=0/fid0_0-0-0_$c2.parquet")),
          true, true)),
      ("p=0", s"fid1_0-0-0_$c1.parquet") ->
        ((true, java.lang.Long.valueOf(rows(s"p=0/fid1_0-0-0_$c1.parquet")),
          true, true)),
      // stale: superseded slice still listed
      ("p=0", s"fid0_0-0-0_$c1.parquet") ->
        ((true, java.lang.Long.valueOf(77L), false, false)),
      // lagging: declared live but unlisted
      ("p=1", s"fid2_0-0-0_$c2.parquet") ->
        ((false, null, true, false))))
  }

  test("MOR declared side includes live LOG files — a listed log is " +
      "a match, never spurious drift") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // a real MOR table (two log files on fid0's c1 slice) ...
    val d = Files.createTempDirectory("graft_hudimdmor").toString + "/tbl"
    val rows = HudiMeta.writeHudiMorLogFixtureTable(spark, d, docs)
    // ... with a hand-attached metadata `files` partition listing the
    // bases AND the logs, the shape Hudi's own index maintains
    val mdRoot = new java.io.File(d, ".hoodie/metadata")
    val mdHoodie = new java.io.File(mdRoot, ".hoodie")
    mdHoodie.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(mdHoodie, "hoodie.properties").toPath,
      ("hoodie.table.name=graft_hudi_mdmor_fixture\n" +
        "hoodie.table.type=MERGE_ON_READ\n" +
        "hoodie.table.version=6\n").getBytes("UTF-8"))
    val infoType = StructType(Seq(
      StructField("size", LongType, nullable = false),
      StructField("isDeleted", BooleanType, nullable = false)))
    val mdSchema = StructType(Seq(
      StructField("key", StringType, nullable = false),
      StructField("type", IntegerType, nullable = false),
      StructField("filesystemMetadata",
        MapType(StringType, infoType, valueContainsNull = false))))
    val c1 = "20240101000000000"
    val c2 = "20240102000000000"
    def len(rel: String): Long = new java.io.File(d, rel).length()
    val recs = Seq(
      Row("p=0", 2, Map(
        s"fid0_0-0-0_$c1.parquet" ->
          Row(len(s"p=0/fid0_0-0-0_$c1.parquet"), false),
        s"fid1_0-0-0_$c1.parquet" ->
          Row(len(s"p=0/fid1_0-0-0_$c1.parquet"), false),
        s".fid0_$c1.log.1_0-0-0" ->
          Row(len(s"p=0/.fid0_$c1.log.1_0-0-0"), false),
        s".fid0_$c1.log.2_0-0-0" ->
          Row(len(s"p=0/.fid0_$c1.log.2_0-0-0"), false))),
      Row("p=1", 2, Map(
        s"fid2_0-0-0_$c2.parquet" ->
          Row(len(s"p=1/fid2_0-0-0_$c2.parquet"), false))))
    val mdDf = spark.createDataFrame(
      spark.sparkContext.parallelize(recs, 1), mdSchema)
    val mdInstant = "20240106000001000"
    val baseRel = s"files/files-0000_0-0-0_$mdInstant.parquet"
    val dst = new java.io.File(mdRoot, baseRel)
    dst.getParentFile.mkdirs()
    val nRecs = FixtureIO.writeSingleParquet(mdDf, dst)
    java.nio.file.Files.write(
      new java.io.File(mdHoodie, s"$mdInstant.deltacommit").toPath,
      (s"""{"partitionToWriteStats":{"files":[{"fileId":"files-0000",""" +
        s""""path":"$baseRel","numWrites":$nRecs,"numDeletes":0,""" +
        s""""numInserts":$nRecs,"totalWriteBytes":${dst.length()},""" +
        s""""partitionPath":"files"}]},"operationType":"upsert"}""")
        .getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(mdHoodie,
      s"$mdInstant.deltacommit.requested").toPath, Array.empty[Byte])
    java.nio.file.Files.write(new java.io.File(mdHoodie,
      s"$mdInstant.deltacommit.inflight").toPath, Array.empty[Byte])
    val got = HudiMeta.metadataFilesAudit(spark, d).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getBoolean(2), r.getBoolean(4), r.getBoolean(5)))).toMap
    // every file — bases AND logs — is listed, declared, and matched
    assert(got.size === 5)
    assert(got.values.forall(_ == ((true, true, true))), got.toString)
    assert(got.contains(("p=0", s".fid0_$c1.log.1_0-0-0")) &&
      got.contains(("p=0", s".fid0_$c1.log.2_0-0-0")))
  }

  test("refusals: no metadata table; un-compacted metadata logs; " +
      "non-parquet base") {
    // a plain fixture has no metadata table
    val d0 = Files.createTempDirectory("graft_hudimd0").toString + "/tbl"
    HudiMeta.writeHudiFixtureTable(spark, d0, docs)
    val e0 = intercept[IllegalArgumentException](
      HudiMeta.metadataFilesAudit(spark, d0))
    assert(e0.getMessage.contains("no .hoodie/metadata"))
    // a declared metadata log whose chain is WHOLLY CORRUPT refuses
    // (r19: valid hfile-data logs MERGE instead — see HFileSpec; a
    // declared-but-unreachable chain means a silently-stale index)
    val (d1, _) = fresh()
    val mdHoodie = new java.io.File(d1, ".hoodie/metadata/.hoodie")
    val dc = mdHoodie.listFiles().find(_.getName.endsWith(".deltacommit")).get
    val body = new String(java.nio.file.Files.readAllBytes(dc.toPath),
      "UTF-8")
    val logRel = "files/.files-0000_20240102000001000.log.1_0-0-0"
    val logFile = new java.io.File(d1, ".hoodie/metadata/" + logRel)
    java.nio.file.Files.write(logFile.toPath, "#HUDI#".getBytes("UTF-8"))
    java.nio.file.Files.write(dc.toPath, body.replace(
      """"partitionToWriteStats":{"files":[""",
      s""""partitionToWriteStats":{"files":[{"fileId":"files-0000",""" +
        s""""path":"$logRel","numWrites":1,"numDeletes":0,""" +
        s""""numInserts":0,"totalWriteBytes":6,"partitionPath":"files"},""")
      .getBytes("UTF-8"))
    val e1 = intercept[Exception](
      HudiMeta.metadataFilesAudit(spark, d1).collect())
    var root1: Throwable = e1
    while (root1.getCause != null) root1 = root1.getCause
    assert(root1.getMessage.contains("no valid block"), root1.toString)
    // an UNKNOWN base format refuses by name (hfile is supported
    // since r19, so the unknown-format probe uses .orc)
    val (d2, _) = fresh()
    val mdHoodie2 = new java.io.File(d2, ".hoodie/metadata/.hoodie")
    val dc2 = mdHoodie2.listFiles()
      .find(_.getName.endsWith(".deltacommit")).get
    java.nio.file.Files.write(dc2.toPath,
      new String(java.nio.file.Files.readAllBytes(dc2.toPath), "UTF-8")
        .replace(".parquet", ".orc").getBytes("UTF-8"))
    val src = new java.io.File(d2,
      ".hoodie/metadata/files").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(src.renameTo(new java.io.File(src.getParentFile,
      src.getName.replace(".parquet", ".orc"))))
    val e2 = intercept[UnsupportedOperationException](
      HudiMeta.metadataFilesAudit(spark, d2))
    assert(e2.getMessage.contains("neither parquet nor HFile"))
    // a base claiming .hfile whose bytes are NOT an HFile refuses
    // classified at the trailer, never a crash
    val (d3, _) = fresh()
    val mdHoodie3 = new java.io.File(d3, ".hoodie/metadata/.hoodie")
    val dc3 = mdHoodie3.listFiles()
      .find(_.getName.endsWith(".deltacommit")).get
    java.nio.file.Files.write(dc3.toPath,
      new String(java.nio.file.Files.readAllBytes(dc3.toPath), "UTF-8")
        .replace(".parquet", ".hfile").getBytes("UTF-8"))
    val src3 = new java.io.File(d3,
      ".hoodie/metadata/files").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    assert(src3.renameTo(new java.io.File(src3.getParentFile,
      src3.getName.replace(".parquet", ".hfile"))))
    val e3 = intercept[Exception](
      HudiMeta.metadataFilesAudit(spark, d3).collect())
    var root3: Throwable = e3
    while (root3.getCause != null) root3 = root3.getCause
    assert((root3.isInstanceOf[IllegalArgumentException] ||
      root3.isInstanceOf[UnsupportedOperationException]) &&
      root3.getMessage.contains("HFile"), root3.toString)
  }
}
