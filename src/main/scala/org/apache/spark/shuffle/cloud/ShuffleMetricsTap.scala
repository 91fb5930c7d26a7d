package org.apache.spark.shuffle.cloud

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Per-query shuffle-volume accounting for the bench lanes (`graft.BenchRunner`).
  *
  * The reference's only published performance numbers are *shuffle volumes
  * per query* (reference `examples/run_benchmarks.sh:29-34`: q5 9.6 GB …
  * q67 66 GB), so the bench surfaces the same quantity next to wall time.
  * Every shuffle byte in this engine flows through the cloud plugin
  * (the map output writers on the write side, the prefetch iterator on
  * the read side), and the task-level `ShuffleWriteMetrics` /
  * `ShuffleReadMetrics` Spark aggregates are fed on exactly those paths —
  * a `SparkListener` over task ends is the zero-overhead way to fold them
  * per query without threading counters through the plugin singletons.
  *
  * Lives in the plugin package because draining the listener queue between
  * queries needs `SparkContext.listenerBus` (`private[spark]`): without
  * `waitUntilEmpty` the async bus would bill a query's tail task-end events
  * to its successor. The class itself is public so `graft.BenchRunner` can own
  * one; only the bus drain needs the package privilege.
  */
class ShuffleMetricsTap(sc: SparkContext) extends SparkListener {
  private val written = new LongAdder
  private val read = new LongAdder
  sc.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      written.add(m.shuffleWriteMetrics.bytesWritten)
      read.add(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Drain pending task-end events, then read-and-reset both counters.
    * Returns (shuffleBytesWritten, shuffleBytesRead) since the last call.
    *
    * A harvest holds exactly the bytes of the tasks that ended since the
    * previous one only while no job runs concurrently with the call:
    * `sumThenReset` makes each counter individually lossless, but a task
    * ending between the two calls lands in the wrong window, and
    * `waitUntilEmpty` only flushes events of tasks that already finished.
    * The serial query-at-a-time loop of `graft.BenchRunner` keeps that.
    */
  def harvest(): (Long, Long) = {
    sc.listenerBus.waitUntilEmpty()
    (written.sumThenReset(), read.sumThenReset())
  }
}
