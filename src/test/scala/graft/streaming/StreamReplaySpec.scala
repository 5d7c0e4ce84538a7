package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.{EntryHelpers, SparkEntry, SparkSpec}

/**
 * The event-replay stream queries, asserted on Spark's own per-trigger
 * progress rather than on result rows: the stream reads the whole events
 * file in place (no pre-filtered staged copy), and toy state lives on ONE
 * state partition, so each trigger commits one state-store delta file
 * per stateful operator.
 */
class StreamReplaySpec extends SparkSpec {

  /** Run inventory query `name` and return the progress of its stream
    * (the query named `sink`), in trigger order. Waits for the stream's
    * terminated event: the listener bus delivers events in order, so
    * every progress event has arrived by then. */
  private def progressOf(name: String, sink: String): Seq[StreamingQueryProgress] = {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val done = new CountDownLatch(1)
    @volatile var id: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (e.name == sink) id = e.id
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.name == sink) progress.add(e.progress)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
        if (e.id == id) done.countDown()
    }
    spark.streams.addListener(listener)
    try {
      val rows = SparkEntry.queries(name)(spark, sf("0.001")).count()
      assert(rows > 0, s"$name returned no rows")
      assert(done.await(60, TimeUnit.SECONDS), s"$name: no terminated event")
    } finally spark.streams.removeListener(listener)
    progress.asScala.toSeq.sortBy(_.batchId)
  }

  for ((name, sink, staging) <- Seq(
      ("stream_sessions", "graft_stream_sess_sink_sf0_001", "graft_stream_sess_sf0_001"),
      ("stream_dedup", "graft_stream_dedup_sink_sf0_001", "graft_stream_dedup_sf0_001")))
    test(s"$name reads the events file in place on one state partition") {
      val events = spark.read.parquet(sf("0.001") + "/events.parquet").count()
      val ps = progressOf(name, sink)
      assert(ps.nonEmpty, s"$name reported no progress")
      assert(ps.head.batchId == 0L)
      assert(ps.head.numInputRows == events,
        s"first trigger read ${ps.head.numInputRows} rows, events has $events")
      val parts = ps.flatMap(_.stateOperators.map(_.numShufflePartitions))
      assert(parts.nonEmpty, s"$name reported no stateful operator")
      assert(parts.forall(_ == 1L), s"state partitions per trigger: $parts")
      assert(!new java.io.File(EntryHelpers.scratch(staging)).exists(),
        "the staged input copy outlived the replay")
    }
}
