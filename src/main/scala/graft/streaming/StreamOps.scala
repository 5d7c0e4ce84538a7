package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** One event in the typed streaming API. */
case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)

/** Running per-user aggregate maintained by the stateful operator. */
case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

/** A finished session emitted by [[StreamOps.closedSessions]]. */
case class ClosedSession(
    user_id: Long,
    session_start: java.sql.Timestamp,
    session_end: java.sql.Timestamp,
    n_events: Long,
    value_sum: Double)

/** State held per user between micro-batches: the one open session. */
case class OpenSession(start: Long, last: Long, n: Long, sum: Double)

/** One (group, item) observation for streaming frequency sketching. */
case class ItemEvent(group: String, item: String)

/** Misra-Gries sketch state per group: bounded counters + exact total
  * decrement (the certified count error). */
case class HhState(counts: Map[String, Long], err: Long)

/** One sketch entry emitted per trigger by [[StreamOps.streamingHeavyHitters]]. */
case class HhEntry(group: String, item: String, count_lb: Long, count_ub: Long)

/**
 * Structured Streaming operators for the event-pipeline side of the engine.
 *
 * Everything here works identically on a batch DataFrame and a streaming
 * one (session_window / window / dropDuplicates are engine-agnostic), which
 * is how a 100 TB backfill and its incremental tail share one code path:
 * run the same transform over `spark.read` for the backfill and
 * `spark.readStream` for the live stream.
 *
 * Scale notes: all three aggregations shuffle on (user/session) keys with
 * watermark-bounded state — state size is proportional to the number of
 * *open* sessions/keys inside the watermark, not to history; streaming
 * dedup keeps only keys younger than the watermark.
 */
object StreamOps {

  implicit val userEventEnc: Encoder[UserEvent] = Encoders.product[UserEvent]
  implicit val userTotalsEnc: Encoder[UserTotals] = Encoders.product[UserTotals]
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  /**
   * Gap-based sessionization: one row per (user, session window) with event
   * count and value sum. On a stream, `watermark` bounds both lateness and
   * session-state retention.
   */
  def sessionize(
      events: DataFrame,
      tsCol: String,
      userCol: String,
      gap: String,
      watermark: String = "1 hour",
      valueCol: String = "value"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    withWm
      .groupBy(session_window(col(tsCol), gap), col(userCol))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("value_sum"))
      .select(col(userCol), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"), col("value_sum"))
  }

  /** Sliding-window event counts with watermarking. */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      window: String,
      slide: String,
      watermark: String = "1 hour"): DataFrame = {
    val withWm =
      if (events.isStreaming) events.withWatermark(tsCol, watermark) else events
    withWm
      .groupBy(org.apache.spark.sql.functions.window(col(tsCol), window, slide))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("n_events"))
  }

  /**
   * Streaming exact dedup: drops duplicate keys whose events arrive within
   * the watermark of each other, holding only watermark-bounded state (the
   * streaming analogue of [[graft.ops.Dedup.exact]]).
   */
  def dedupStream(events: DataFrame, tsCol: String, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    if (events.isStreaming) {
      events.withWatermark(tsCol, watermark).dropDuplicatesWithinWatermark(keys)
    } else {
      events.dropDuplicates(keys)
    }

  /**
   * Custom stateful operator: running per-user totals via
   * `mapGroupsWithState` — the escape hatch for state machines the built-in
   * aggregations cannot express. Emits the updated running total for every
   * user seen in the batch.
   */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserTotals] =
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0d))
          var n = prev.n_events
          var total = prev.total_value
          batch.foreach { e =>
            n += 1
            total += e.value
          }
          val updated = UserTotals(userId, n, total)
          state.update(updated)
          updated
      }

  /**
   * Closed-session emitter via `flatMapGroupsWithState` — the
   * zero-or-more-rows-per-group stateful shape `mapGroupsWithState` cannot
   * express. A session CLOSES (and is emitted exactly once) when a later
   * event of the same user arrives more than `gapMs` after it, or when the
   * event-time watermark passes `last + gapMs` (the timeout path), so
   * downstream consumers see only finished sessions, in append mode.
   *
   * State per user is ONE open session (four longs/doubles) regardless of
   * history; the per-invocation sort buffers only the user's slice of the
   * current micro-batch. On a batch Dataset the same code emits the
   * sessions closed by a successor event; trailing open sessions have no
   * watermark to close them there (use [[sessionize]] for batch totals).
   */
  def closedSessions(
      events: Dataset[UserEvent],
      gapMs: Long,
      watermark: String = "1 hour"): Dataset[ClosedSession] = {
    implicit val openEnc: Encoder[OpenSession] = Encoders.product[OpenSession]
    implicit val closedEnc: Encoder[ClosedSession] = Encoders.product[ClosedSession]
    // plain Boolean for the executor closure — capturing the Dataset
    // itself would drag the whole plan into task serialization
    val streaming = events.isStreaming
    val withWm =
      if (streaming) events.withWatermark("ts", watermark) else events
    withWm
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[UserEvent], state: GroupState[OpenSession]) =>
          def emit(s: OpenSession) = ClosedSession(userId,
            new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
            s.n, s.sum)
          if (state.hasTimedOut) {
            val done = emit(state.get)
            state.remove()
            Iterator.single(done)
          } else {
            // batch semantics per invocation: sweep the SORTED union of
            // the open session and this batch's events, merging neighbors
            // within the gap. Every resulting session except the latest is
            // finished (something later superseded it) and emits; the
            // latest stays open. A signed `t - last <= gap` merge against
            // only the open session would wrongly swallow an out-of-order
            // event arbitrarily EARLIER than the session (bridging a
            // silence longer than the gap); the sweep instead emits such
            // an event as its own earlier, already-superseded session —
            // exactly what sorting the whole group in batch mode yields.
            val protos = (state.getOption.toSeq ++
              batch.map(e => OpenSession(e.ts.getTime, e.ts.getTime, 1L, e.value)))
              .sortBy(s => (s.start, s.last))
            val merged = scala.collection.mutable.ArrayBuffer.empty[OpenSession]
            protos.foreach { p =>
              if (merged.nonEmpty && p.start - merged.last.last <= gapMs) {
                val c = merged.remove(merged.length - 1)
                merged += OpenSession(c.start, math.max(c.last, p.last),
                  c.n + p.n, c.sum + p.sum)
              } else merged += p
            }
            merged.lastOption.foreach { s =>
              state.update(s)
              // defensive clamp: Spark rejects timeout timestamps at or
              // before the watermark. With EventTimeTimeout Spark already
              // drops sub-watermark input rows before this function, so
              // surviving events keep `last + gap` above the watermark —
              // the clamp only matters if that filtering contract changes
              if (streaming) state.setTimeoutTimestamp(
                math.max(s.last + gapMs, state.getCurrentWatermarkMs() + 1))
            }
            merged.dropRight(1).iterator.map(emit)
          }
      }
  }

  /**
   * Streaming as-of enrichment: attach to every event the latest row of a
   * STATIC dimension table at-or-before the event's timestamp on the same
   * key — price-at-event-time against a slowly-changing dimension, as a
   * STATELESS streaming transform.
   *
   * The batch as-of ([[graft.ops.TemporalJoin.asofBackward]]) needs a
   * per-key ordered window, which streaming append mode cannot run. Here
   * the dimension side is static and bounded by contract, so its history
   * folds into one sorted array per key (struct ordering sorts by the
   * leading ts field), the stream joins it by plain equi-key — a
   * stream-static broadcast join, stateless and supported in append mode —
   * and the at-or-before lookup is an array scan per event. Left
   * semantics: events with no dimension row at-or-before keep nulls.
   *
   * Per-event cost is O(|key's history|) via the `filter` HOF; dimension
   * tables are small by contract (they ride a broadcast), so this is
   * bounded. The same code path runs identically on a batch frame — the
   * backfill/incremental parity contract of this module — and the parity
   * spec pins it against `TemporalJoin.asofBackward`. Shared contracts
   * with the batch operator: the dimension must be unique per (keys, ts)
   * (ties resolve deterministically by full-struct order here, but the
   * result is ill-defined — pre-aggregate), and null keys match nothing
   * (SQL join equality on both paths).
   */
  def enrichAsOf(
      events: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      eventTs: String,
      dimTs: String): DataFrame = {
    require(keys.nonEmpty, "as-of enrichment requires at least one equi-key")
    // case-insensitive classification, matching Spark's default resolution
    val payload = dim.columns.filterNot(c =>
      keys.exists(c.equalsIgnoreCase) || c.equalsIgnoreCase(dimTs))
    val taken = events.columns.toSet ++ dim.columns
    val arr = graft.ops.RangeJoin.freshName("__dim_hist", taken)
    val hitCol = graft.ops.RangeJoin.freshName("__dim_hit", taken + arr)
    val collisions = events.columns.map(_.toLowerCase).toSet
      .intersect((payload :+ dimTs).map(_.toLowerCase).toSet)
    require(collisions.isEmpty,
      s"as-of enrichment: colliding column names ${collisions.mkString(", ")}")

    val hist = dim.filter(col(dimTs).isNotNull)
      .groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(col(dimTs) +: payload.map(col): _*))).as(arr))
    val joined = events.join(broadcast(hist), keys, "left")
    // latest at-or-before: last element of the <= prefix. element_at is
    // 1-based and ANSI-throws out of bounds, so guard on the prefix size.
    // Materialize the hit struct ONCE: the filter HOF evaluates interpreted
    // per element, and inlining it into every output column would re-scan
    // the history ~3x per payload column per event.
    val prefix = filter(col(arr), s => s.getField(dimTs) <= col(eventTs))
    val hit = when(size(prefix) > 0, element_at(prefix, size(prefix)))
    (dimTs +: payload).foldLeft(joined.withColumn(hitCol, hit)) {
      case (df, c) => df.withColumn(c, col(hitCol).getField(c))
    }.drop(arr, hitCol)
  }

  /**
   * Streaming heavy hitters: the Misra-Gries bounded-counter sketch (same
   * algorithm and certified-bound contract as the batch
   * [[graft.functions.FreqSketch]]) carried as `flatMapGroupsWithState`
   * state — per-group state is AT MOST `capacity` counters FOREVER, no
   * matter how many distinct items the stream ever produces. That bound is
   * what makes frequent-item tracking on an unbounded stream legal at all:
   * a `groupBy(item).count()` stream grows state with the distinct-item
   * count and a watermark would evict exactly the long-lived hot items the
   * question is about.
   *
   * Emits the group's full sketch each trigger (Update-mode output): item
   * with certified bounds `count_lb <= true <= count_ub`, where `count_ub -
   * count_lb = n_decremented <= n/(capacity+1)`. Runs identically on a
   * batch Dataset (one "trigger" over empty state) — the backfill/live
   * parity path.
   */
  def streamingHeavyHitters(
      events: Dataset[ItemEvent],
      capacity: Int): Dataset[HhEntry] = {
    require(capacity > 0, s"capacity must be positive, got $capacity")
    implicit val stEnc: Encoder[HhState] = Encoders.product[HhState]
    implicit val outEnc: Encoder[HhEntry] = Encoders.product[HhEntry]
    implicit val strEnc: Encoder[String] = Encoders.STRING
    events.groupByKey(_.group)
      .flatMapGroupsWithState[HhState, HhEntry](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout) {
        (group: String, batch: Iterator[ItemEvent], state: GroupState[HhState]) =>
          var counts = state.getOption.map(_.counts).getOrElse(Map.empty[String, Long])
          var err = state.getOption.map(_.err).getOrElse(0L)
          batch.foreach { e =>
            counts.get(e.item) match {
              case Some(c) => counts = counts.updated(e.item, c + 1L)
              case None if counts.size < capacity => counts = counts.updated(e.item, 1L)
              case None =>
                // MG decrement-all: the arriving item and every counter
                // each give up one occurrence; zeros free their slots
                counts = counts.collect { case (k, v) if v > 1L => k -> (v - 1L) }
                err += 1L
            }
          }
          state.update(HhState(counts, err))
          counts.toSeq.sortBy { case (k, v) => (-v, k) }
            .map { case (k, v) => HhEntry(group, k, v, v + err) }.iterator
      }
  }

  /**
   * Streaming ingest loop over a persisted dedup store pair
   * ([[graft.ops.Dedup.writeBandStore]] + [[graft.ops.Dedup.writeDocStore]]):
   * every micro-batch is scrubbed against the store (LSH candidates from
   * the bucketed band table, exact token-set verification against the doc
   * table), confirmed duplicates are dropped, and the survivors are
   * ABSORBED into both halves — so each batch deduplicates against
   * everything ingested before it. This is the continuous form of the
   * daily scrub-and-absorb loop: the 100 TB reference corpus is laid out
   * once and never reshuffled; per trigger only the (small) batch's bands
   * exchange and only candidate ids broadcast.
   *
   * Exactly-once boundary: `foreachBatch` replays a batch after a failure
   * (at-least-once side effects). A committed-batch log table closes the
   * common replay path — a batch id already in the log is skipped
   * wholesale. The residual window is a crash BETWEEN the store appends
   * and the log append, which would double-absorb that one batch's
   * survivors on restart; doc-store ids are unique by contract, so the
   * condition is detectable (and repairable) offline — the standard
   * compromise for a non-transactional pair of sinks.
   *
   * Split-invariance contract: the final store state is independent of
   * micro-batch boundaries IFF the in-flight increment has no
   * intra-increment duplicates. Each batch dedups against the store then
   * absorbs: a duplicate pair straddling batches is caught, one inside a
   * single batch is not (same intra-increment semantics as the batch
   * loop). Pre-dedup the increment on the token set for deterministic
   * replay parity — asserted in StreamIngestSpec.
   */
  def ingestIncrements(
      stream: DataFrame, id: Column, tokenSet: Column,
      bandStore: String, docStore: String, logTable: String,
      buckets: Int, checkpoint: String,
      numPerms: Int = 64, bands: Int = 16)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    // Read the committed-batch log ONCE per run instead of once per
    // trigger: the log is counter-scale and this stream is its only
    // writer, so a driver-held mirror answers the replay guard without
    // a Spark job per batch. The table stays the durable truth — a
    // restarted stream reloads it here.
    val s = stream.sparkSession
    val committed = scala.collection.mutable.Set.empty[Long]
    if (s.catalog.tableExists(logTable))
      committed ++= s.table(logTable).collect().map(_.getLong(0))
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        ingestBatch(batch.toDF(), id, tokenSet, bandStore, docStore,
          logTable, buckets, batchId, numPerms, bands, Some(committed))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /**
   * Streaming budget gate — the streaming form of
   * [[graft.ops.Sampling.budgetCarvePerGroup]]: each source ingests until
   * its ABSOLUTE token budget fills, then the gate closes for it. Every
   * micro-batch is carved against the budgets REMAINING after all prior
   * batches (consumed state persisted in `stateTable`), kept rows append
   * to `outTable`, and the committed-batch log makes foreachBatch replays
   * no-ops — the capped-crawl ingest loop.
   *
   * Semantics: priority is arrival order ACROSS batches (first batch
   * drinks first — the point of a streaming quota); WITHIN a batch the
   * kept set is budgetCarvePerGroup's deterministic pseudo-random prefix,
   * so a replayed batch keeps identical rows. A doc dropped by the gate
   * consumes nothing. Groups without a budget drop; a group whose budget
   * fills mid-batch is cut at the batch's crossing bucket and stays
   * closed (remaining budget 0) for every later batch.
   *
   * Scale: consumed state is one row PER SOURCE (driver-held during the
   * batch — counter scale by contract, like the IVF centroids); the
   * per-batch carve costs the batch's ledger, never the accumulated
   * corpus; once EVERY gate is closed a batch skips straight to the log
   * append — the steady state of a capped crawl costs no shuffle at all.
   *
   * Exactly-once boundary: same non-transactional compromise as
   * [[ingestIncrements]] — the log closes the replay path. Out rows carry
   * their `batch_id`, so the residual crash window (between the out/state
   * writes and the log append) is detectable offline as duplicate rows
   * within one batch_id, and repairable: a replayed half-committed batch
   * re-appends a subset of its own original rows verbatim (the carve is
   * deterministic and a reduced remaining budget only shortens the
   * prefix), so `SELECT DISTINCT` restores the true kept set and the
   * state table rebuilds from the deduplicated out table's per-source
   * sums.
   */
  def budgetGate(
      stream: DataFrame, group: Column, key: Column, cost: Column,
      budgets: Map[String, Long],
      outTable: String, stateTable: String, logTable: String,
      checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val run = loadBudgetGateRun(stream.sparkSession, logTable, stateTable)
    stream.writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        budgetGateBatch(batch.toDF(), group, key, cost, budgets,
          outTable, stateTable, logTable, batchId, Some(run))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
  }

  /**
   * Driver-held, run-scoped mirror of the budget gate's two control
   * tables (committed-batch log; per-source consumed state) — both are
   * counter-scale and the gate loop is their only writer, so loading
   * them ONCE per run replaces two Spark reads per batch with driver
   * lookups. The tables remain the durable truth: a restarted stream
   * (or a fresh direct loop) reloads them here, and every batch still
   * writes them before its log commit.
   */
  final class BudgetGateRun private[streaming] (
      private[streaming] val committed: scala.collection.mutable.Set[Long],
      private[streaming] var consumed: Map[String, Long])

  def loadBudgetGateRun(s: SparkSession, logTable: String,
      stateTable: String): BudgetGateRun = {
    val committed = scala.collection.mutable.Set.empty[Long]
    if (s.catalog.tableExists(logTable))
      committed ++= s.table(logTable).collect().map(_.getLong(0))
    val consumed: Map[String, Long] =
      if (s.catalog.tableExists(stateTable))
        s.table(stateTable).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
      else Map.empty
    new BudgetGateRun(committed, consumed)
  }

  /**
   * One budget-gate step — the `foreachBatch` body, exposed for direct
   * batch use (a nightly increment is just a one-batch stream) and for
   * deterministic-order testing. Skips wholesale if `batchId` is already
   * in the log table.
   */
  def budgetGateBatch(
      batch: DataFrame, group: Column, key: Column, cost: Column,
      budgets: Map[String, Long],
      outTable: String, stateTable: String, logTable: String,
      batchId: Long,
      run: Option[BudgetGateRun] = None): Unit = {
    val s = batch.sparkSession
    // replay guard + consumed state: with a run-scoped mirror
    // ([[loadBudgetGateRun]]) both are driver lookups; without one, the
    // original per-call table reads stand.
    val alreadyCommitted = run match {
      case Some(r) => r.committed.contains(batchId)
      case None =>
        if (!s.catalog.tableExists(logTable))
          s.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("batch_id")
            .write.format("parquet").saveAsTable(logTable)
        !s.table(logTable).filter(col("batch_id") === batchId).isEmpty
    }
    if (!alreadyCommitted) {
      // per-source consumed state: counter scale, held on the driver for
      // the duration of the batch
      val consumed: Map[String, Long] = run.map(_.consumed).getOrElse {
        if (s.catalog.tableExists(stateTable))
          s.table(stateTable).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        else Map.empty
      }
      val remaining = budgets.map { case (g, b) =>
        g -> math.max(0L, b - consumed.getOrElse(g, 0L))
      }
      // every gate closed: nothing can pass — skip the carve, the (empty)
      // append, and the no-op state rewrite; just commit the batch
      val active = remaining.filter(_._2 > 0L)
      if (active.nonEmpty) {
        val kept = graft.ops.Sampling
          .budgetCarvePerGroup(batch, group, key, cost, active)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          // the out append and the state rewrite both read only `kept`
          // and target different sinks — run them concurrently. parJobs
          // returns only once both have finished, so neither the
          // unpersist below nor a replay of a failed batch races a write
          // still landing, and the log append below still happens only
          // after BOTH out and state are durable.
          graft.Overlap.parJobs(
            () => {
              val drank = kept.groupBy(group.as("g"))
                .agg(sum(cost.cast("long")).as("c")).collect()
                .map(r => r.getString(0) -> r.getLong(1)).toMap
              val newState = (consumed.keySet ++ drank.keySet).toSeq.sorted
                .map(g =>
                  (g, consumed.getOrElse(g, 0L) + drank.getOrElse(g, 0L)))
              s.createDataFrame(newState).toDF("g", "consumed")
                .write.mode("overwrite").format("parquet")
                .saveAsTable(stateTable)
              run.foreach(_.consumed = newState.toMap)
            },
            () => kept.withColumn("batch_id", lit(batchId))
              .write.mode("append").format("parquet").saveAsTable(outTable))
        } finally kept.unpersist()
      }
      s.createDataFrame(Seq(Tuple1(batchId))).toDF("batch_id")
        .write.mode("append").format("parquet").saveAsTable(logTable)
      run.foreach(_.committed += batchId)
    }
  }

  /**
   * One ingest step — the `foreachBatch` body, exposed for direct batch
   * use and for testing the replay guard without a streaming harness.
   * Skips wholesale if `batchId` is already in the log table (see
   * [[ingestIncrements]] for the exactly-once discussion).
   */
  def ingestBatch(
      batch: DataFrame, id: Column, tokenSet: Column,
      bandStore: String, docStore: String, logTable: String,
      buckets: Int, batchId: Long,
      numPerms: Int = 64, bands: Int = 16,
      committed: Option[scala.collection.mutable.Set[Long]] = None): Unit = {
    val s = batch.sparkSession
    // replay guard: a batch id already in the log is skipped wholesale.
    // With a run-scoped `committed` mirror (ingestIncrements loads the
    // log once at stream start) the probe is a driver set lookup instead
    // of a Spark read of the log table per trigger; without one, the
    // original per-call table probe stands.
    val alreadyCommitted = committed match {
      case Some(set) => set.contains(batchId)
      case None =>
        if (!s.catalog.tableExists(logTable))
          s.createDataFrame(Seq.empty[Tuple1[Long]]).toDF("batch_id")
            .write.format("parquet").saveAsTable(logTable)
        !s.table(logTable).filter(col("batch_id") === batchId).isEmpty
    }
    if (!alreadyCommitted) {
      // tokenize once: the set column feeds the scrub's signature build,
      // the exact verify, and the absorb append
      val b = batch.select(id.as("doc_id"), tokenSet.as("ws"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val dups = graft.ops.Dedup.dupsAgainstStore(s, bandStore, docStore,
          b, col("doc_id"), col("ws"), numPerms, bands)
          .withColumnRenamed("doc_id", "dup_id")
        val survivors = b.join(broadcast(dups),
          col("doc_id") === col("dup_id"), "left_anti")
        graft.ops.Dedup.absorbIntoStore(survivors, col("doc_id"), col("ws"),
          bandStore, docStore, buckets, numPerms, bands)
      } finally b.unpersist()
      // append-mode saveAsTable creates a missing log table, so the
      // mirror path needs no separate create job
      s.createDataFrame(Seq(Tuple1(batchId))).toDF("batch_id")
        .write.mode("append").format("parquet").saveAsTable(logTable)
      committed.foreach(_ += batchId)
    }
  }
}
