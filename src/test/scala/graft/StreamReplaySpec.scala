package graft

import org.apache.spark.sql.graft.ListenerBusShim
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Micro-batch layout of each stream replay shape on sf0.001: the
  * batches that carry data, as (batchId, numInputRows). The replays
  * stage a directory of table files and materialized frames at pinned
  * mtimes, so the layout is part of what a query computes — a
  * sentinel that lands in the events batch closes nothing, and a
  * slice replayed out of order merges the wrong snapshot.
  */
class StreamReplaySpec extends SparkSpec {

  private def layout(query: String): Seq[(Long, Long)] = {
    val batches = new java.util.concurrent.CopyOnWriteArrayList[(Long, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          batches.add((e.progress.batchId, e.progress.numInputRows))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      SparkEntry.queries(query)(spark, sf0001)
      ListenerBusShim.waitUntilEmpty(spark)
    } finally spark.streams.removeListener(listener)
    batches.asScala.toSeq
  }

  private def rows(table: String): Long = Tables(spark, sf0001, table).count()

  test("sentinel replay: every event file in batch 0, the sentinel alone in batch 1") {
    assert(layout("stream_session_native") == Seq((0L, rows("events")), (1L, 1L)))
  }

  test("dup-shard replay: the events and the every-7th shard arrive in one batch") {
    val events = Tables(spark, sf0001, "events")
    val dups = events.filter(events("event_id") % 7 === 0).count()
    assert(layout("stream_dedup") == Seq((0L, rows("events") + dups)))
  }

  test("slice replay: the CDC base, then the delta, one file per batch") {
    val orders = Tables(spark, sf0001, "orders")
    val base = orders.filter(orders("o_orderkey") % 4 =!= 0).count()
    val delta = orders.filter(orders("o_orderkey") % 2 === 0).count()
    assert(layout("stream_cdc_merge") == Seq((0L, base), (1L, delta)))
  }

  test("documents replay: the linked table arrives as one batch") {
    assert(layout("stream_index_lookup") == Seq((0L, rows("documents"))))
  }
}
