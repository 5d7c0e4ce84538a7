package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A filesystem wrapper that counts `listStatus` calls — the
  * probe-count arbiter for [[HudiMeta.firstMissingFromDisk]]. */
class CountingFs(underlying: org.apache.hadoop.fs.FileSystem)
    extends org.apache.hadoop.fs.FilterFileSystem(underlying) {
  override def listStatus(p: org.apache.hadoop.fs.Path):
      Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.listCalls.incrementAndGet()
    super.listStatus(p)
  }
}
object CountingFs {
  val listCalls = new java.util.concurrent.atomic.AtomicLong(0)
}

/** COW row-level changes by slice diff ([[HudiMeta.cowIncrementalRows]]):
  * update/insert/delete classification from content, unchanged rows
  * silent, untouched groups unread, bootstrap semantics, and the
  * refusal posture (clustering in window, cleaned baseline). */
class HudiCowDiffSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(sf("0.001") + "/documents.parquet")

  private val (c1, c2) = ("20240101000000000", "20240102000000000")

  private def fresh(): String = {
    val d = Files.createTempDirectory("graft_hudicd").toString + "/tbl"
    HudiMeta.writeHudiCowDiffFixtureTable(spark, d, docs)
    d
  }

  private def rows: Seq[(Long, String, java.lang.Long)] =
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) null
        else java.lang.Long.valueOf(r.getLong(2)))).toSeq

  private def gotSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getString(0), r.getString(1),
      if (r.isNullAt(2)) null else java.lang.Long.valueOf(r.getLong(2)),
      if (r.isNullAt(3)) null else r.getString(3),
      if (r.isNullAt(4)) null
      else java.lang.Long.valueOf(r.getLong(4)))).toSet

  test("slice diff: updates, inserts, old-value deletes; unchanged " +
      "and untouched rows silent") {
    val d = fresh()
    val got = gotSet(HudiMeta.cowIncrementalRows(spark, d, c1, c2))
    val expected = (rows.filter(r =>
        r._1 % 12 == 0 && r._1 % 15 != 0).map { case (id, l, n) =>
        ("upsert", id.toString, java.lang.Long.valueOf(id), l,
          if (n == null) null else java.lang.Long.valueOf(n + 100L))
      } ++
      rows.filter(_._1 % 3 == 2).map { case (id, l, n) =>
        ("upsert", id.toString, java.lang.Long.valueOf(id), l, n)
      } ++
      rows.filter(_._1 % 15 == 0).map { case (id, l, n) =>
        ("delete", id.toString, java.lang.Long.valueOf(id), l, n)
      }).toSet
    assert(got === expected)
    // fid1's untouched rows (doc_id%3==1) never surface
    assert(!got.exists(r => r._3 != null && r._3 % 3 == 1))
    // bootstrap: everything at c1 as upserts, no deletes
    val boot = HudiMeta.cowIncrementalRows(spark, d, "0", c1)
    assert(boot.filter(col("change_type") === "delete").count() === 0)
    assert(boot.count() === rows.count(_._1 % 3 < 2).toLong)
  }

  test("a base column colliding with the machinery's internals " +
      "refuses classified, never an ambiguous-plan error") {
    val d = fresh()
    // rewrite the window's slices with a conflicting 'file_id' column
    Seq(("p=0/fid0_0-0-0_", 0), ("p=1/fid2_0-0-0_", 2)).foreach {
      case (prefix, m) =>
        val slice = docs.select(col("doc_id"), col("lang"),
            col("n_chars"))
          .filter(pmod(col("doc_id"), lit(3)) === m)
          .withColumn("file_id", lit(1L))
        FixtureIO.writeSingleParquet(slice,
          new java.io.File(d, s"$prefix$c2.parquet"))
    }
    val e = intercept[UnsupportedOperationException] {
      HudiMeta.cowIncrementalRows(spark, d, c1, c2)
    }
    assert(e.getMessage.contains("file_id"))
  }

  test("a schema-evolved window (column added between from and to) " +
      "refuses classified, never a raw AnalysisException") {
    val d = fresh()
    // rewrite the window's new slices with an ADDED 'quality' column
    // the prior slices lack — the r19 ADVICE shape
    Seq(("p=0/fid0_0-0-0_", 0), ("p=1/fid2_0-0-0_", 2)).foreach {
      case (prefix, m) =>
        val slice = docs.select(col("doc_id"), col("lang"),
            col("n_chars"))
          .filter(pmod(col("doc_id"), lit(3)) === m)
          .withColumn("quality", lit(0.5))
        FixtureIO.writeSingleParquet(slice,
          new java.io.File(d, s"$prefix$c2.parquet"))
    }
    val e = intercept[UnsupportedOperationException] {
      HudiMeta.cowIncrementalRows(spark, d, c1, c2)
    }
    assert(e.getMessage.contains("schema change") &&
      e.getMessage.contains("quality"))
  }

  test("prior-slice existence probes batch to one listStatus per " +
      "distinct parent directory") {
    val dir = Files.createTempDirectory("graft_probe").toFile
    val (a, b) = (new java.io.File(dir, "p=0"), new java.io.File(dir, "p=1"))
    a.mkdirs(); b.mkdirs()
    Seq(new java.io.File(a, "x.parquet"), new java.io.File(a, "y.parquet"),
      new java.io.File(b, "z.parquet")).foreach { f =>
      java.nio.file.Files.write(f.toPath, Array[Byte](1))
    }
    val conf = spark.sessionState.newHadoopConf()
    val fs = new CountingFs(
      new org.apache.hadoop.fs.Path(dir.getAbsolutePath)
        .getFileSystem(conf))
    def p(f: java.io.File) =
      new org.apache.hadoop.fs.Path(f.getAbsolutePath)
    CountingFs.listCalls.set(0)
    // five probes across two parents -> exactly two listStatus calls
    assert(HudiMeta.firstMissingFromDisk(fs, Seq(
      p(new java.io.File(a, "x.parquet")),
      p(new java.io.File(a, "y.parquet")),
      p(new java.io.File(b, "z.parquet")),
      p(new java.io.File(a, "x.parquet")),
      p(new java.io.File(b, "z.parquet")))).isEmpty)
    assert(CountingFs.listCalls.get() === 2)
    // a missing file in a present dir, and a file under a MISSING dir
    CountingFs.listCalls.set(0)
    assert(HudiMeta.firstMissingFromDisk(fs, Seq(
      p(new java.io.File(a, "x.parquet")),
      p(new java.io.File(a, "gone.parquet")))).map(_.getName)
      === Some("gone.parquet"))
    assert(CountingFs.listCalls.get() === 1)
    assert(HudiMeta.firstMissingFromDisk(fs, Seq(
      p(new java.io.File(new java.io.File(dir, "p=9"), "w.parquet"))))
      .map(_.getName) === Some("w.parquet"))
  }

  test("the slice diff COMPOSES with composite record keys: " +
      "record_key carries the two-field rendering") {
    val d = fresh()
    val props = new java.io.File(d, ".hoodie/hoodie.properties")
    val body = new String(
      java.nio.file.Files.readAllBytes(props.toPath), "UTF-8")
    java.nio.file.Files.write(props.toPath,
      body.replace("recordkey.fields=doc_id",
        "recordkey.fields=doc_id,lang").getBytes("UTF-8"))
    val got = HudiMeta.cowIncrementalRows(spark, d, c1, c2)
      .select(col("change_type"), col("record_key")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def render(id: Long, lang: String): String =
      s"doc_id:$id,lang:${
        if (lang == null) "__null__"
        else if (lang.isEmpty) "__empty__" else lang}"
    val expected = (rows.filter(r =>
        r._1 % 12 == 0 && r._1 % 15 != 0).map { case (id, l, _) =>
        ("upsert", render(id, l))
      } ++ rows.filter(_._1 % 3 == 2).map { case (id, l, _) =>
        ("upsert", render(id, l))
      } ++ rows.filter(_._1 % 15 == 0).map { case (id, l, _) =>
        ("delete", render(id, l))
      }).toSet
    assert(got === expected)
  }

  test("refusals: clustering in window; cleaned diff baseline") {
    val d = fresh()
    // a completed replacecommit inside the window
    val hoodie = new java.io.File(d, ".hoodie")
    java.nio.file.Files.write(
      new java.io.File(hoodie, "20240103000000000.replacecommit").toPath,
      "{}".getBytes("UTF-8"))
    val e = intercept[UnsupportedOperationException] {
      HudiMeta.cowIncrementalRows(spark, d, c1, "20240103000000000")
    }
    assert(e.getMessage.contains("clustering") ||
      e.getMessage.contains("replacecommit"))
    // cleaned baseline: the prior slice file is gone from disk
    val d2 = fresh()
    val prior = new java.io.File(d2, s"p=0/fid0_0-0-0_$c1.parquet")
    assert(prior.delete())
    val e2 = intercept[UnsupportedOperationException] {
      HudiMeta.cowIncrementalRows(spark, d2, c1, c2)
    }
    assert(e2.getMessage.contains("gone from disk"))
  }
}
