package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** Per-query accounting for the bench lanes (`graft.BenchRunner`): shuffle
  * bytes written and read, and each streaming drain's micro-batch count
  * and peak total state rows and memory.
  *
  * The reference's only published performance numbers are shuffle volumes
  * per query (reference `examples/run_benchmarks.sh:29-34`: q5 9.6 GB …
  * q67 66 GB), so the bench reports the same quantity next to wall time,
  * folded from the task metrics every shuffle writer and reader feeds.
  * Streaming progress events reach Spark listeners too: a
  * `StreamingQueryListener.Event` is a `SparkListenerEvent` that the
  * session posts to the context's bus, where it arrives as an other event.
  *
  * Lives in Spark's package because [[harvest]] drains the bus through
  * `SparkContext.listenerBus` (`private[spark]`) first: without
  * `waitUntilEmpty` the async bus would bill a query's tail events to its
  * successor.
  */
class BenchListener(sc: SparkContext) extends SparkListener {
  private var written, read, batches, stateRows, stateMem = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      written += m.shuffleWriteMetrics.bytesWritten
      read += m.shuffleReadMetrics.totalBytesRead
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      batches += 1
      val ops = Option(p.progress.stateOperators).map(_.toSeq).getOrElse(Nil)
      stateRows = math.max(stateRows, ops.map(_.numRowsTotal).sum)
      stateMem = math.max(stateMem, ops.map(_.memoryUsedBytes).sum)
    }
    case _ =>
  }

  /** Drains pending events, then reads and resets every counter: what the
    * tasks and drains that ended since the last call account for.
    *
    * That holds only while no job runs concurrently with the call:
    * `waitUntilEmpty` flushes only the events of tasks that already ended.
    * The serial query-at-a-time loop of `graft.BenchRunner` keeps that. */
  def harvest(): BenchListener.Harvest = {
    sc.listenerBus.waitUntilEmpty()
    synchronized {
      val h = BenchListener.Harvest(written, read, batches, stateRows, stateMem)
      written = 0; read = 0; batches = 0; stateRows = 0; stateMem = 0
      h
    }
  }
}

object BenchListener {
  final case class Harvest(shuffleWritten: Long, shuffleRead: Long,
      batches: Long, stateRowsMax: Long, stateMemMaxBytes: Long) {
    /** The streaming drain's keys in the bench report. */
    def census: Seq[(String, Long)] =
      Seq("batches" -> batches, "state_rows_max" -> stateRowsMax, "state_mem_max_bytes" -> stateMemMaxBytes)
  }
}
