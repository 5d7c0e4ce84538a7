package graft.meta

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Crash-safe streaming-store publishing: temp-dir + rename increments,
  * the whole-store publish, strict name parsing, and the changelog
  * store's per-snapshot attribution across a multi-snapshot micro-batch
  * jump. */
class StoreIOSpec extends SparkSpec {

  private lazy val docs =
    spark.read.parquet(sf("0.001") + "/documents.parquet")

  test("publishIncrement lands whole-or-nothing; temp dirs never count") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_storeio").toFile
    // a crashed attempt: a temp dir full of bytes, never renamed
    val crashed = new java.io.File(store, ".tmp_feed_0_5")
    crashed.mkdirs()
    Files.write(new java.io.File(crashed, "part-0.parquet").toPath,
      Array.fill[Byte](16)(1))
    // names derived from COMPLETED increments only
    assert(StoreIO.parsePairs(store, "feed") === Seq.empty)
    StoreIO.sweepTemp(store)
    assert(!crashed.exists())
    // a real publish renames into place and parses back
    StoreIO.publishIncrement(
      Seq((1L, "a")).toDF("v", "s"), store, "feed_0_5")
    assert(StoreIO.parsePairs(store, "feed") === Seq((0L, 5L)))
    assert(spark.read.parquet(new java.io.File(store, "feed_0_5").getPath)
      .count() === 1L)
  }

  test("redelivery is crash-safe: the published name never vanishes, " +
      "and a crash between the two renames repairs on sweep") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_storeio_r").toFile
    StoreIO.publishIncrement(
      Seq((1L, "a")).toDF("v", "s"), store, "inc_1")
    // redelivery replaces in place — and no .old_ garbage stays behind
    StoreIO.publishIncrement(
      Seq((2L, "b"), (3L, "c")).toDF("v", "s"), store, "inc_1")
    assert(spark.read.parquet(new java.io.File(store, "inc_1").getPath)
      .count() === 2L)
    assert(!new java.io.File(store, ".old_inc_1").exists())
    // simulate the crash window: prior increment staged aside, the
    // replacement never renamed in — the next pass's sweep RESTORES it
    val dst = new java.io.File(store, "inc_1")
    val aside = new java.io.File(store, ".old_inc_1")
    assert(dst.renameTo(aside))
    assert(StoreIO.parseIds(store, "inc") === Seq.empty) // the gap
    StoreIO.sweepTemp(store)
    assert(StoreIO.parseIds(store, "inc") === Seq("1"))
    assert(spark.read.parquet(dst.getPath).count() === 2L)
    // and when the replacement DID land, a leftover aside is dropped
    val aside2 = new java.io.File(store, ".old_inc_1")
    aside2.mkdirs()
    StoreIO.sweepTemp(store)
    assert(!aside2.exists() && dst.exists())
  }

  test("store publish keeps old or new store across rename failures") {
    import spark.implicits._
    val store = new java.io.File(
      Files.createTempDirectory("graft_publish").toFile, "store")
    def rows(): Long = spark.read.parquet(store.getPath).count()
    // normal publish: _next replaces the store, no _next/_old residue
    StoreIO.publishStore(Seq(1L).toDF("v"), store)
    StoreIO.publishStore(Seq(2L, 3L).toDF("v"), store)
    assert(rows() === 2L)
    assert(!new java.io.File(store.getPath + "_old").exists())
    assert(!new java.io.File(store.getPath + "_next").exists())
    // failed publish (the staged copy cannot be renamed in): the
    // PREVIOUS store survives — a delete-then-rename shape would have
    // destroyed it first
    val e = intercept[java.io.IOException](StoreIO.swapIn(
      new java.io.File(store.getPath + "_next"), store,
      new java.io.File(store.getPath + "_old")))
    assert(e.getMessage.contains("could not publish"))
    assert(rows() === 2L)
  }

  test("garbled increment names refuse loudly, never mis-read as state") {
    val store = Files.createTempDirectory("graft_storeio2").toFile
    new java.io.File(store, "feed_7_9").mkdirs()
    new java.io.File(store, "feed_garbage").mkdirs()
    val e = intercept[IllegalStateException] {
      StoreIO.parsePairs(store, "feed")
    }
    assert(e.getMessage.contains("unparseable"))
    // single-id parsing has the same strictness
    val store2 = Files.createTempDirectory("graft_storeio3").toFile
    new java.io.File(store2, "inc_20240101000000000").mkdirs()
    assert(StoreIO.parseIds(store2, "inc") === Seq("20240101000000000"))
    new java.io.File(store2, "inc_2024_extra_tokens").mkdirs()
    intercept[IllegalStateException](StoreIO.parseIds(store2, "inc"))
  }

  test("changelog store: a multi-snapshot jump lands one increment per " +
      "snapshot with its own attribution") {
    val d = Files.createTempDirectory("graft_ice_persnap").toString + "/tbl"
    val counts = IcebergMeta.writeTransientFixtureTable(spark, d, docs)
    val store = Files.createTempDirectory("graft_ice_persnap_s")
      .toString + "/store"
    val ckpt = Files.createTempDirectory("graft_ice_persnap_c").toString
    // pass A: rewind to snapshot 1 — bootstrap lands f0 as inserts
    val v1 = new java.io.File(d, "metadata/v1.metadata.json")
    val full = new String(Files.readAllBytes(v1.toPath), "UTF-8")
    Files.write(v1.toPath,
      full.replace("\"current-snapshot-id\":3,",
        "\"current-snapshot-id\":1,").getBytes("UTF-8"))
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    // pass B: the table JUMPS straight to snapshot 3 in one batch
    Files.write(new java.io.File(d, "metadata/v2.metadata.json").toPath,
      full.getBytes("UTF-8"))
    Files.write(new java.io.File(d, "metadata/version-hint.text").toPath,
      "2".getBytes("UTF-8"))
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    val all = IcebergMeta.readChangelogStore(spark, store)
      .groupBy("snapshot_id", "_change_type").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // snapshot 2's changes carry ITS id, never the batch-final 3's
    assert(all === Map(
      (1L, "insert") -> counts("f0.parquet"),
      (2L, "insert") -> counts("fT.parquet"),
      (3L, "insert") -> counts("f2.parquet"),
      (3L, "delete") -> counts("fT.parquet")))
    // a redelivered pass re-lands nothing
    IcebergMeta.maintainChangelogStore(spark, d, store, ckpt)
    assert(IcebergMeta.readChangelogStore(spark, store).count() ===
      all.values.sum)
  }
}
