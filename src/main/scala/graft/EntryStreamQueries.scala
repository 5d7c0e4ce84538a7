package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.meta.MetaValues
import graft.ops.{Dedup, TextOps}

/** Query + oracle inventory — structured-streaming operators (sessions, windows, state,
  * budget gates, ingest loops).
  * Assembled (disjointly) into the driver contract by
  * [[SparkEntry]]. */
private[graft] object EntryStreamQueries {
  import EntryHelpers._
  import Fixtures.fixtureDir

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // STREAMING token accounting: the metadata STREAMING source at the
    // sizestats level watches an arrival directory — each micro-batch
    // accounts only the newly arrived files' footers (stream-static join
    // with the schema facts), appending per-chunk counts to a running
    // ledger. Two arrival waves with a checkpointed restart between them
    // prove exactly-once accounting; the ledger's totals equal DuckDB
    // over everything that ever arrived. Still zero page I/O — a live
    // corpus's token census at footer cost.
    "stream_token_accounting" -> ((s, dir) => withStreamShuffle(s, 8) {
      val src = fixtureDir(dir, "graft_stracct_src_")
      val out = scratch("graft_stracct_out_" + sfx(dir))
      val ckpt = scratchTempDir("graft_stracct_ckpt")
      for (p <- Seq(src, out)) {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))
      }
      val docs = input(s, dir, "documents")
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, lit(null))
            .otherwise(transform(sequence(lit(0L), col("doc_id") % 7),
              i => when((col("doc_id") + i) % 13 === 0, lit(null))
                .otherwise(col("doc_id") * 31L + i))).as("tokens"))
      def arrive(wave: DataFrame): Unit =
        wave.coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val stream = s.readStream.format("metadata")
          .option("level", "sizestats").option("source", "parquet")
          .option("streamlagms", "0").load(src)
        val acc = MetaValues.leafAccountingOf(stream,
          MetaValues.schemaFactsDf(s, src))
          .filter(col("path") === "tokens.list.element")
          .select(col("filepath"), col("n_records"), col("n_leaf_values"),
            (element_at(col("definition_level_histogram"), 3) +
              element_at(col("definition_level_histogram"), 4)).as("n_slots"))
        val q = acc.writeStream.format("parquet").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .option("path", out).start()
        q.awaitTermination(120000)
        q.stop()
      }
      try {
        arrive(docs.filter(col("doc_id") % 2 === 0))
        runOnce()
        arrive(docs.filter(col("doc_id") % 2 === 1))
        runOnce()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      s.read.parquet(out)
        .agg(sum(col("n_records")).cast("long").as("n_rows"),
          sum(col("n_slots")).cast("long").as("n_slots"),
          sum(col("n_leaf_values")).cast("long").as("n_tokens"))
    }),


    // Streaming budget gate: per-source budgets fill ACROSS increments
    // (arrival-order priority, remaining-budget state carried between
    // batches); driven here as the deterministic three-batch direct loop
    // the streaming wrapper replays. src2's budget exceeds its totals
    // (never gated), src0/src1/src3 close mid-stream, 16 sources have no
    // budget and never pass.
    "stream_budget_gate" -> ((s, dir) => withStreamShuffle(s, 8) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val out = freshTable(s, "graft_bg_out_" + suffix)
      val state = freshTable(s, "graft_bg_state_" + suffix)
      val log = freshTable(s, "graft_bg_log_" + suffix)
      val d = input(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val budgets = Map("src0" -> 5000L, "src1" -> 3000L,
        "src2" -> 100000L, "src3" -> 9000L)
      // run-scoped control-table mirror: one load replaces the per-batch
      // log/state Spark reads (tables stay the durable truth)
      val run = graft.streaming.StreamOps.loadBudgetGateRun(s, log, state)
      for (b <- 0 until 3)
        graft.streaming.StreamOps.budgetGateBatch(
          d.filter(pmod(col("doc_id"), lit(3)) === b),
          col("source"), col("doc_id"), col("n_chars"), budgets,
          out, state, log, b.toLong, Some(run))
      s.table(out).groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_kept"))
    }),


    // The SAME heavy-hitter question answered by the STREAMING operator:
    // token events replayed through Trigger.AvailableNow into the
    // Misra-Gries flatMapGroupsWithState sketch (bounded state per group
    // forever), landed in a memory sink. In the eviction-free regime the
    // stream's final sketch must equal the batch exact counts — batch
    // parity as an oracle row, not just a spec. Update-mode emissions
    // accumulate one row per (group, item) per trigger and counts only
    // grow here, so max() per key is the final sketch no matter how
    // AvailableNow batched the replay.
    "stream_heavy_hitters" -> ((s, dir) => withStreamShuffle(s, 1) {
      import s.implicits._
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_hh_" + suffix)
      input(s, dir, "documents")
        .select(col("lang").as("group"), explode(TextOps.tokens(col("text"))).as("item"))
        .write.mode("overwrite").parquet(staging)
      val events = s.readStream.schema("group STRING, item STRING")
        .parquet(staging).as[graft.streaming.ItemEvent]
      val sink = "graft_stream_hh_sink_" + suffix
      // private per-run checkpoint (no cross-process sharing to race on),
      // deleted after the replay completes: the memory-sink contents
      // outlive it, and the next run replays from scratch anyway
      val ckpt = scratchTempDir("graft_hh_ckpt")
      try {
        graft.streaming.StreamOps.streamingHeavyHitters(events, capacity = 64)
          .writeStream.format("memory").queryName(sink).outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      s.table(sink)
        .groupBy(col("group").as("lang"), col("item"))
        .agg(max(col("count_lb")).as("count_lb"),
          max(col("count_ub")).as("count_ub"))
    }),


    // The as-of enrichment running as a STREAM: the same event subset
    // replayed through Trigger.AvailableNow and enriched stream-static
    // against the (broadcast, sorted-history) dimension — stateless, so
    // append mode needs no watermark and the replay must equal the batch
    // left as-of exactly. Unmatched events survive with null dims (LEFT
    // semantics — the streaming enrich never drops events).
    "stream_asof_enrich" -> ((s, dir) => withStreamShuffle(s, 8) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_asof_" + suffix)
      // dim keys outside the streamed events' key set are unreachable under
      // the left equi-join — filter them BEFORE the history aggregate so
      // the per-batch broadcast carries only matchable keys
      val ord = input(s, dir, "orders")
        .filter(col("o_custkey") < 30)
        .groupBy(col("o_custkey").as("user_id"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_ts"))
        .agg(max(col("o_orderkey")).as("o_key"))
      val sink = "graft_stream_asof_sink_" + suffix
      val ckpt = scratchTempDir("graft_asof_ckpt")
      try {
        graft.streaming.StreamOps.enrichAsOf(
            eventsStream(s, dir, staging)
              .filter(col("user_id") < 30)
              .select(col("user_id"), expr("ts div 1000").as("e_ts"),
                col("event_id")),
            ord, Seq("user_id"), "e_ts", "o_ts")
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally Seq(ckpt, new java.io.File(staging))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      s.table(sink)
        .select(col("user_id"), col("e_ts"), col("event_id"), col("o_ts"), col("o_key"))
    }),


    // STREAMING gap sessionization through the custom-state operator:
    // closedSessions (flatMapGroupsWithState, O(1) state per user) replays
    // the events table via AvailableNow; the oracle recomputes the same
    // sessions relationally (gaps-and-islands). The stream reads the ONE
    // events file in place, so the run is a single data batch: every
    // emitted session is successor-closed (= all but each user's last
    // island — watermark timeouts, spec-covered separately, are kept out
    // of reach by a huge delay so the emitted set is closed-form). Values
    // are projected integer-valued (floor(v*100)) so the double session
    // sums are bit-stable on both engines.
    "stream_sessions" -> ((s, dir) => withStreamShuffle(s, 1) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_sess_" + suffix)
      val sink = "graft_stream_sess_sink_" + suffix
      val ckpt = scratchTempDir("graft_sess_ckpt")
      try {
        import s.implicits._
        graft.streaming.StreamOps.closedSessions(
            eventsStream(s, dir, staging)
              .filter(col("user_id") < 20)
              .select(col("user_id"),
                timestamp_millis(expr("ts div 1000000")).as("ts"),
                floor(col("value") * 100).cast("double").as("value"))
              .as[graft.streaming.UserEvent],
            gapMs = 6L * 3600 * 1000, watermark = "2400 hours")
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally Seq(ckpt, new java.io.File(staging))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      s.table(sink).select(col("user_id"),
        unix_millis(col("session_start")).as("s_start"),
        unix_millis(col("session_end")).as("s_end"),
        col("n_events"),
        col("value_sum").cast("long").as("v_sum"))
    }),


    // The closedSessions TIMEOUT path, end-to-end: unlike stream_sessions
    // (successor-closed sessions only — each user's last island stays open
    // in state), this run pushes the event-time watermark past every open
    // session with far-future sentinel events across TWO AvailableNow runs
    // sharing one checkpoint (run 2 restores run 1's state, so the timeout
    // fires on RECOVERED state — the production restart shape). The
    // emitted set is then ALL islands per user, and the oracle is the full
    // gaps-and-islands recompute with no last-island exclusion. Parquet
    // sink: the memory sink cannot resume from a checkpoint.
    "stream_sessions_final" -> ((s, dir) => withStreamShuffle(s, 1) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_sessf_" + suffix)
      val outDir = scratch("graft_stream_sessf_out_" + suffix)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(staging))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
      val ev = eventsNs(s, dir).filter(col("user_id") < 20)
        .select(col("user_id"),
          timestamp_millis(expr("ts div 1000000")).as("ts"),
          floor(col("value") * 100).cast("double").as("value"))
      def sentinel(ms: Long) = s.range(1).select(lit(9999L).as("user_id"),
        timestamp_millis(lit(ms)).as("ts"), lit(0.0d).as("value"))
      val far = 4102444800000L // 2100-01-01, beyond every staged event
      // run 1: one file -> one batch; sessions build, nothing times out
      // (the watermark only moves at batch end)
      ev.unionByName(sentinel(far)).coalesce(1)
        .write.mode("append").parquet(staging)
      val ckpt = scratchTempDir("graft_sessf_ckpt")
      def runOnce(): Unit = {
        import s.implicits._
        graft.streaming.StreamOps.closedSessions(
            s.readStream.schema(s.read.parquet(staging).schema).parquet(staging)
              .as[graft.streaming.UserEvent],
            gapMs = 6L * 3600 * 1000, watermark = "0 seconds")
          .toDF()
          .writeStream.format("parquet").outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .option("path", outDir)
          .start().awaitTermination()
      }
      try {
        runOnce()
        // run 2: the recovered watermark (= the first sentinel) now
        // exceeds every real session's last+gap, so they ALL time out;
        // the second sentinel (> gap later) successor-closes the first
        // sentinel's own session so user 9999 leaves clean state too
        sentinel(far + 13L * 3600 * 1000).coalesce(1)
          .write.mode("append").parquet(staging)
        runOnce()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      s.read.parquet(outDir).filter(col("user_id") < 20)
        .select(col("user_id"),
          unix_millis(col("session_start")).as("s_start"),
          unix_millis(col("session_end")).as("s_end"),
          col("n_events"),
          col("value_sum").cast("long").as("v_sum"))
    }),


    // STREAMING running totals through the mapGroupsWithState escape
    // hatch, replayed over FOUR micro-batches (one file per trigger) so
    // the state genuinely carries across triggers. Update mode emits one
    // row per (user, trigger-seen); n_events is strictly increasing per
    // user, so max_by picks each user's final state — which must equal
    // the plain batch group-by. Values staged integer-valued for
    // bit-stable double accumulation.
    "stream_running_totals" -> ((s, dir) => withStreamShuffle(s, 1) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_rt_" + suffix)
      eventsNs(s, dir)
        .filter(col("user_id") < 20)
        .select(col("user_id"),
          timestamp_millis(expr("ts div 1000000")).as("ts"),
          floor(col("value") * 100).cast("double").as("value"))
        .repartition(4).write.mode("overwrite").parquet(staging)
      val sink = "graft_stream_rt_sink_" + suffix
      val ckpt = scratchTempDir("graft_rt_ckpt")
      try {
        import s.implicits._
        graft.streaming.StreamOps.runningTotals(
            s.readStream.schema(s.read.parquet(staging).schema)
              .option("maxFilesPerTrigger", "1").parquet(staging)
              .as[graft.streaming.UserEvent])
          .toDF()
          .writeStream.format("memory").queryName(sink).outputMode("update")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      s.table(sink).groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n_events"),
          max_by(col("total_value"), col("n_events")).cast("long").as("v_sum"))
    }),


    // STREAMING sliding-window counts in COMPLETE mode: every (30 min
    // window, 10 min slide) bucket's event count, replayed AvailableNow —
    // complete mode re-emits the full aggregate each trigger, so the final
    // memory-sink table equals the batch group-by no matter how the input
    // splits into batches. The oracle explodes each event into its three
    // containing windows (window = 3 x slide, epoch-aligned).
    "stream_window_counts" -> ((s, dir) => withStreamShuffle(s, 1) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_win_" + suffix)
      val sink = "graft_stream_win_sink_" + suffix
      val ckpt = scratchTempDir("graft_win_ckpt")
      try {
        graft.streaming.StreamOps.windowedCounts(
            eventsStream(s, dir, staging)
              .select(timestamp_millis(expr("ts div 1000000")).as("ts")),
            "ts", "30 minutes", "10 minutes", watermark = "2400 hours")
          .writeStream.format("memory").queryName(sink).outputMode("complete")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally Seq(ckpt, new java.io.File(staging))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      s.table(sink)
        .select(unix_millis(col("window_start")).as("window_start"), col("n_events"))
    }),


    // STREAMING within-watermark dedup: dropDuplicatesWithinWatermark over
    // (user_id, event_type) emits each key once; projecting the keys makes
    // the emitted SET closed-form (payload of the surviving row is
    // arrival-order-dependent and deliberately not part of the contract).
    "stream_dedup" -> ((s, dir) => withStreamShuffle(s, 1) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val staging = scratch("graft_stream_dedup_" + suffix)
      val sink = "graft_stream_dedup_sink_" + suffix
      val ckpt = scratchTempDir("graft_dedup_ckpt")
      try {
        graft.streaming.StreamOps.dedupStream(
            eventsStream(s, dir, staging)
              .select(col("user_id"), col("event_type"),
                timestamp_millis(expr("ts div 1000000")).as("ts")),
            "ts", Seq("user_id", "event_type"), watermark = "2400 hours")
          .writeStream.format("memory").queryName(sink).outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", ckpt.toString)
          .start().awaitTermination()
      } finally Seq(ckpt, new java.io.File(staging))
        .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      s.table(sink).select(col("user_id"), col("event_type"))
    }),


    // STREAMING ingest loop: the continuous form of pipeline_ingest. The
    // reference corpus is persisted once as a band store + doc store pair;
    // the increment then arrives as a FILE STREAM processed one file per
    // micro-batch (foreachBatch), each batch scrubbed against the store
    // and its survivors absorbed before the next batch runs. The increment
    // is pre-deduplicated on its token sets, which makes the final store
    // state independent of micro-batch boundaries (the split-invariance
    // contract on StreamOps.ingestIncrements); the oracle recomputes that
    // same fixpoint in closed form.
    "stream_ingest" -> ((s, dir) => withStreamShuffle(s, 8) {
      val suffix = new java.io.File(dir).getName.replaceAll("[^A-Za-z0-9]", "_")
      val band = freshTable(s, "graft_si_band_" + suffix)
      val docs = freshTable(s, "graft_si_docs_" + suffix)
      val log = freshTable(s, "graft_si_log_" + suffix)
      val d = input(s, dir, "documents").select(col("doc_id"), col("text"))
      val ref = d.filter(col("doc_id") >= 50)
      // increment: docs <70 relabeled, PRE-DEDUPED on token set (smallest
      // id wins; min_by carries a representative text) per the
      // split-invariance contract
      val inc = d.filter(col("doc_id") < 70)
        .select((col("doc_id") + 700000L).as("doc_id"), col("text"),
          TextOps.tokenSet(col("text")).as("ws"))
        .groupBy(col("ws"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("text"), col("doc_id")).as("text"))
        .select(col("doc_id"), col("text"))
      val staging = scratch("graft_stream_ingest_" + suffix)
      // the two reference-store builds and the increment staging write
      // are three independent jobs — overlap them (guide §2.6)
      Overlap.parJobs(
        () => Dedup.writeDocStore(ref, col("doc_id"),
          TextOps.tokenSet(col("text")), docs),
        () => Dedup.writeBandStore(ref, col("doc_id"),
          TextOps.tokenSet(col("text")), band, buckets = 8),
        () => inc.repartition(4).write.mode("overwrite").parquet(staging))
      val stream = s.readStream.schema(s.read.parquet(staging).schema)
        .option("maxFilesPerTrigger", "1").parquet(staging)
      val ckpt = scratchTempDir("graft_ingest_ckpt")
      try {
        graft.streaming.StreamOps.ingestIncrements(stream,
          col("doc_id"), TextOps.tokenSet(col("text")),
          band, docs, log, buckets = 8, ckpt.toString).awaitTermination()
      } finally org.apache.commons.io.FileUtils.deleteQuietly(ckpt)
      val surv = s.table(docs).filter(col("doc_id") >= 700000L)
      s.read.parquet(staging)
        .agg(count(lit(1)).as("n_inc"),
          coalesce(sum(col("doc_id")), lit(0L)).as("inc_id_sum"))
        .crossJoin(surv.agg(count(lit(1)).as("n_survivors"),
          coalesce(sum(col("doc_id")), lit(0L)).as("surv_id_sum")))
        .crossJoin(s.table(band).agg(count(lit(1)).as("store_band_rows")))
    })
  )

  val oracles: Map[String, String] = Map(

    "stream_token_accounting" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(coalesce(sum(len(tokens)), 0) AS BIGINT) AS n_slots,
        |  CAST(coalesce(sum(len(list_filter(tokens, x -> x IS NOT NULL))), 0)
        |    AS BIGINT) AS n_tokens
        |FROM read_parquet('/tmp/graft_stracct_src_sf0.01/*.parquet')""".stripMargin,


    // each user's final emitted state must equal the batch group-by
    "stream_running_totals" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(floor(value * 100)) AS BIGINT) AS v_sum
        |FROM events WHERE user_id < 20 GROUP BY user_id""".stripMargin,


    // each event lives in exactly three epoch-aligned 10-minute-slide
    // windows of 30 minutes; explode and count
    "stream_window_counts" ->
      """WITH ev AS (
        |  SELECT (epoch_us(ts) // 1000) AS ms FROM events),
        |exploded AS (
        |  SELECT ((ms // 600000) - k.k) * 600000 AS window_start
        |  FROM ev, (SELECT unnest([0, 1, 2]) AS k) k)
        |SELECT CAST(window_start AS BIGINT) AS window_start,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM exploded GROUP BY window_start""".stripMargin,


    // the emitted key set is every distinct key, exactly once
    "stream_dedup" ->
      """SELECT DISTINCT user_id, event_type FROM events""".stripMargin,


    // gaps-and-islands replay of successor-closed sessions: an island
    // breaks where the gap to the previous event exceeds 6h; each user's
    // LAST island is still open (no successor) and must not appear. The
    // nanosecond ts maps to ms identically on both engines (DuckDB's
    // parquet read truncates ns->us, then //1000: floor-of-floor equals
    // floor(ns/1e6) for these positive timestamps).
    "stream_sessions" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ms, floor(value * 100) AS v
        |  FROM events WHERE user_id < 20),
        |marked AS (
        |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
        |                   OR ms - lag(ms) OVER w > 21600000 THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |islands AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, island, min(ms) AS s_start, max(ms) AS s_end,
        |    count(*) AS n_events, sum(v) AS v_sum
        |  FROM islands GROUP BY user_id, island)
        |SELECT user_id, CAST(s_start AS BIGINT) AS s_start,
        |  CAST(s_end AS BIGINT) AS s_end,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(v_sum AS BIGINT) AS v_sum
        |FROM sess
        |WHERE island < (SELECT max(island) FROM sess s2
        |                WHERE s2.user_id = sess.user_id)""".stripMargin,


    // the timeout-path run emits EVERY island (the sentinel watermark push
    // closes each user's trailing session), so the recompute keeps them all
    "stream_sessions_final" ->
      """WITH ev AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ms, floor(value * 100) AS v
        |  FROM events WHERE user_id < 20),
        |marked AS (
        |  SELECT *, CASE WHEN lag(ms) OVER w IS NULL
        |                   OR ms - lag(ms) OVER w > 21600000 THEN 1 ELSE 0 END AS brk
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
        |islands AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ms
        |    ROWS UNBOUNDED PRECEDING) AS island
        |  FROM marked),
        |sess AS (
        |  SELECT user_id, island, min(ms) AS s_start, max(ms) AS s_end,
        |    count(*) AS n_events, sum(v) AS v_sum
        |  FROM islands GROUP BY user_id, island)
        |SELECT user_id, CAST(s_start AS BIGINT) AS s_start,
        |  CAST(s_end AS BIGINT) AS s_end,
        |  CAST(n_events AS BIGINT) AS n_events,
        |  CAST(v_sum AS BIGINT) AS v_sum
        |FROM sess""".stripMargin,


    // the streaming loop's fixpoint in closed form: the increment is
    // intra-deduped (min id per token set), so batch boundaries cannot
    // change the outcome — each doc survives iff its set is absent from
    // the reference, regardless of what was absorbed before it
    "stream_ingest" ->
      """WITH sets AS (
        |  SELECT doc_id,
        |    list_sort(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS ws
        |  FROM documents),
        |ref AS (SELECT doc_id, ws FROM sets WHERE doc_id >= 50),
        |inc AS (SELECT min(doc_id + 700000) AS doc_id, ws FROM sets
        |        WHERE doc_id < 70 GROUP BY ws),
        |surv AS (SELECT i.doc_id FROM inc i
        |         WHERE NOT EXISTS (SELECT 1 FROM ref r WHERE r.ws = i.ws))
        |SELECT
        |  CAST((SELECT count(*) FROM inc) AS BIGINT) AS n_inc,
        |  CAST(coalesce((SELECT sum(doc_id) FROM inc), 0) AS BIGINT) AS inc_id_sum,
        |  CAST((SELECT count(*) FROM surv) AS BIGINT) AS n_survivors,
        |  CAST(coalesce((SELECT sum(doc_id) FROM surv), 0) AS BIGINT) AS surv_id_sum,
        |  CAST(((SELECT count(*) FROM ref) + (SELECT count(*) FROM surv)) * 16
        |    AS BIGINT) AS store_band_rows""".stripMargin,


    "stream_budget_gate" ->
      """WITH b AS (
        |  SELECT src, budget FROM (VALUES
        |    ('src0', 5000), ('src1', 3000), ('src2', 100000), ('src3', 9000))
        |    AS v(src, budget)),
        |c AS (
        |  SELECT d.source, d.doc_id, d.n_chars, d.doc_id % 3 AS batch, bb.budget,
        |    SUM(d.n_chars) OVER (PARTITION BY d.source, d.doc_id % 3
        |      ORDER BY ((d.doc_id % 1000003) * 2654435761 + 104729) % 1000003,
        |               d.doc_id) AS cum
        |  FROM documents d JOIN b bb ON d.source = bb.src),
        |s0 AS (SELECT src, budget, coalesce((SELECT max(cum) FROM c
        |         WHERE c.source = b.src AND batch = 0 AND cum <= b.budget), 0) AS c0
        |       FROM b),
        |s1 AS (SELECT src, budget, c0, coalesce((SELECT max(cum) FROM c
        |         WHERE c.source = s0.src AND batch = 1
        |           AND cum <= s0.budget - s0.c0), 0) AS c1
        |       FROM s0),
        |kept AS (
        |  SELECT c.source, c.doc_id, c.n_chars FROM c JOIN s1 ON c.source = s1.src
        |  WHERE (batch = 0 AND cum <= s1.budget)
        |     OR (batch = 1 AND cum <= s1.budget - s1.c0)
        |     OR (batch = 2 AND cum <= s1.budget - s1.c0 - s1.c1))
        |SELECT source, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_kept
        |FROM kept GROUP BY source""".stripMargin,


    // the streaming sketch must land on the batch exact counts (the
    // eviction-free Misra-Gries regime) — identical oracle by design
    "stream_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT lang, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS token
        |  FROM documents)
        |SELECT lang, token AS item,
        |  CAST(count(*) AS BIGINT) AS count_lb,
        |  CAST(count(*) AS BIGINT) AS count_ub
        |FROM toks GROUP BY lang, token""".stripMargin,


    // the streaming replay must land on the batch LEFT as-of exactly
    // (stateless stream-static enrichment, AvailableNow)
    "stream_asof_enrich" ->
      """SELECT e.user_id, e.e_ts, e.event_id, o.o_ts, o.o_key
        |FROM (SELECT user_id, epoch_us(ts) AS e_ts, event_id
        |      FROM events WHERE user_id < 30) e
        |ASOF LEFT JOIN (SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS o_ts,
        |             max(o_orderkey) AS o_key
        |           FROM orders GROUP BY 1, 2) o
        |ON e.user_id = o.user_id AND e.e_ts >= o.o_ts""".stripMargin
  )
}
