package graft.meta

import java.io.{File, IOException}

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

/**
 * The streaming lake-store maintainers' one skeleton and one publish
 * protocol.
 *
 * SKELETON ([[maintain]]): one `Trigger.AvailableNow` pass of a
 * `metadata` stream (delta commit log, iceberg metadata files, hudi
 * timeline) with its own checkpoint, so an already-seen log file never
 * re-triggers. Each non-empty micro-batch is collected on the driver
 * (log-file-sized: names and versions, never rows) and handed to the
 * maintainer's body, which decides what to publish. Bodies must be
 * idempotent: `foreachBatch` redelivers a batch whose pass crashed.
 *
 * PUBLISH: a store is either one WHOLE parquet dir replaced per batch
 * ([[publishStore]]: delta live store, iceberg current store) or a dir
 * of named INCREMENTS ([[publishIncrement]]: `feed_<from>_<to>`,
 * `inc_<ts>_<snap>`, `inc_<instant>`). Increment stores derive their
 * progress from directory NAMES, so a crash mid-write must never leave
 * a name that claims rows it does not hold. Both publishes therefore
 * write a staged copy, then run the same rename-aside step: the prior
 * copy is renamed ASIDE, the staged copy renamed in, the aside deleted
 * last. No crash point loses both copies, and one repair step — an
 * aside whose destination is missing is restored, any other aside
 * dropped — runs before every pass. Rename atomicity is the store
 * contract: a local or HDFS-like rename-capable filesystem (object
 * stores without atomic rename need a manifest-commit layer instead).
 */
object StoreIO {

  /** One AvailableNow pass of the `source`/`level` metadata stream of
    * `table`, checkpointed at `checkpointDir`: the store at `storeDir`
    * is repaired first ([[sweepTemp]] and the whole-store aside), then
    * every non-empty micro-batch's `cols` rows are collected and handed
    * to `body` with the store dir. Returns when the pass is done; a
    * failing body fails the pass. */
  def maintain(
      spark: SparkSession, table: String, source: String, level: String,
      cols: Seq[String], storeDir: String, checkpointDir: String)(
      body: (Array[Row], File) => Unit): Unit = {
    val store = new File(storeDir)
    restoreAside(new File(storeDir + "_old"), store)
    sweepTemp(store)
    spark.readStream.format("metadata")
      .option("source", source).option("level", level)
      .option("streamlagms", "0").load(table)
      .select(cols.map(col): _*)
      .writeStream.outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val rows = batch.collect()
        if (rows.nonEmpty) body(rows, store)
        ()
      }
      .start()
      .awaitTermination()
  }

  /** Replace the whole store at `store` with `df`: written to
    * `<store>_next`, then swapped in with `<store>_old` as the aside. */
  def publishStore(df: DataFrame, store: File): Unit = {
    val next = new File(store.getPath + "_next")
    df.coalesce(1).write.mode("overwrite").parquet(next.getPath)
    swapIn(next, store, new File(store.getPath + "_old"))
  }

  /** Write `df` as one parquet increment under `store/name`, staged in
    * the dot-prefixed `.tmp_<name>` (invisible to the `inc_*`/`feed_*`
    * globs). Idempotent: a re-delivered increment replaces the prior
    * same-named one whole, and crash-safe even on redelivery — the
    * existing increment is renamed aside to `.old_<name>`, not
    * deleted, so no crash point leaves the published name missing; a
    * crash between the two renames is repaired by [[sweepTemp]] on the
    * next pass. */
  def publishIncrement(df: DataFrame, store: File, name: String): Unit = {
    val tmp = new File(store, s".tmp_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    swapIn(tmp, new File(store, name), new File(store, s".old_$name"))
  }

  /** The one rename-aside step: `dst` (when present) is renamed to
    * `aside`, `staged` renamed to `dst`, and the aside deleted last. A
    * failed second rename restores the aside before throwing; a crash
    * between the renames leaves the aside for [[restoreAside]]. */
  private[meta] def swapIn(staged: File, dst: File, aside: File): Unit = {
    restoreAside(aside, dst)
    if (dst.exists() && !dst.renameTo(aside)) {
      throw new IOException(s"could not stage $dst aside for publish — " +
        "rename failed; the store filesystem must support atomic rename")
    }
    if (!staged.renameTo(dst)) {
      val restored = !aside.exists() || aside.renameTo(dst)
      throw new IOException(s"could not publish $dst — rename failed" +
        (if (restored) " (previous copy restored)"
         else s" (previous copy preserved at $aside)"))
    }
    FileUtils.deleteQuietly(aside)
  }

  /** The one repair step: an `aside` whose `dst` is missing is the
    * still-valid prior copy a crash left between [[swapIn]]'s renames —
    * restore it; an aside whose replacement landed is garbage — drop
    * it. */
  private def restoreAside(aside: File, dst: File): Unit =
    if (aside.exists()) {
      if (dst.exists()) FileUtils.deleteQuietly(aside)
      else if (!aside.renameTo(dst)) {
        throw new IOException(s"could not restore $dst from its " +
          s"crash-staged aside $aside — rename failed")
      }
    }

  /** Remove crashed-attempt `.tmp_` dirs and repair `.old_` asides
    * ([[restoreAside]]) of an increment store. Safe concurrently with
    * reads: dot-prefixed names are invisible to the increment globs. */
  def sweepTemp(store: File): Unit = {
    val dirs = Option(store.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
    dirs.filter(_.getName.startsWith(".tmp_"))
      .foreach(FileUtils.deleteQuietly)
    dirs.filter(_.getName.startsWith(".old_")).foreach(aside =>
      restoreAside(aside, new File(store, aside.getName.stripPrefix(".old_"))))
  }

  /** The `(a, b)` pairs of every `<prefix>_<a>_<b>` increment dir.
    * STRICT: a dir that starts with the prefix but does not parse
    * refuses loudly — a foreign or garbled name must not silently
    * change what "already fed" means (and must not crash an unguarded
    * split either). Hidden (dot-prefixed) names are skipped. */
  def parsePairs(store: File, prefix: String): Seq[(Long, Long)] = {
    val re = ("^" + java.util.regex.Pattern.quote(prefix) +
      "_(\\d+)_(\\d+)$").r
    names(store, prefix).map {
      case re(a, b) => (a.toLong, b.toLong)
      case other => throw new IllegalStateException(
        s"$store: unparseable increment dir '$other' — refusing " +
          "rather than mis-reading the feed state")
    }
  }

  /** The single-value ids of every `<prefix>_<id>` increment dir,
    * same strictness as [[parsePairs]]. */
  def parseIds(store: File, prefix: String): Seq[String] = {
    val re = ("^" + java.util.regex.Pattern.quote(prefix) + "_(\\d+)$").r
    names(store, prefix).map {
      case re(id) => id
      case other => throw new IllegalStateException(
        s"$store: unparseable increment dir '$other' — refusing " +
          "rather than mis-reading the feed state")
    }
  }

  private def names(store: File, prefix: String): Seq[String] =
    Option(store.listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory)
      .map(_.getName)
      .filter(n => !n.startsWith(".") && n.startsWith(prefix + "_"))
      .toSeq
}
