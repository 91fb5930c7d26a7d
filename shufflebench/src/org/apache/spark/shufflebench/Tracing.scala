package org.apache.spark.shufflebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.{ShuffleDependency, SparkConf, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.shuffle._
import org.apache.spark.shuffle.cloud.CloudShuffleManager

/** One traced interval at a layer boundary, in `System.nanoTime` units.
  * `self` is the part of [start, end) spent in the layer itself rather than
  * in the code it called back into (upstream records for a writer, the
  * consumer between reader calls). `task` is the task attempt, or -1 on a
  * thread outside a task (the prefetch pool). */
final case class Span(kind: String, task: Long, start: Long, end: Long, self: Long) {
  def duration: Long = end - start
}

/** Spans of the traced lane, kept in memory until the pass drains them. */
object Spans {
  private val spans = new ConcurrentLinkedQueue[Span]()

  def add(kind: String, start: Long, end: Long, self: Long): Unit = {
    val task = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(-1L)
    spans.add(Span(kind, task, start, end, self))
  }

  def add(kind: String, start: Long, end: Long): Unit = add(kind, start, end, end - start)

  def drain(): Seq[Span] = {
    val out = Seq.newBuilder[Span]
    var s = spans.poll()
    while (s != null) {
      out += s
      s = spans.poll()
    }
    out.result()
  }
}

/** Delegates every call to [[CloudShuffleManager]] and times its writers and
  * readers through the public `ShuffleWriter`/`ShuffleReader` API only. */
class TracingShuffleManager(conf: SparkConf) extends ShuffleManager {
  private val under = new CloudShuffleManager(conf)

  override def registerShuffle[K, V, C](shuffleId: Int,
      dependency: ShuffleDependency[K, V, C]): ShuffleHandle =
    under.registerShuffle(shuffleId, dependency)

  override def getWriter[K, V](handle: ShuffleHandle, mapId: Long, context: TaskContext,
      metrics: ShuffleWriteMetricsReporter): ShuffleWriter[K, V] =
    new TimedWriter(under.getWriter[K, V](handle, mapId, context, metrics))

  override def getReader[K, C](handle: ShuffleHandle, startMapIndex: Int, endMapIndex: Int,
      startPartition: Int, endPartition: Int, context: TaskContext,
      metrics: ShuffleReadMetricsReporter): ShuffleReader[K, C] =
    new TimedReader(under.getReader[K, C](handle, startMapIndex, endMapIndex, startPartition,
      endPartition, context, metrics))

  override def unregisterShuffle(shuffleId: Int): Boolean = under.unregisterShuffle(shuffleId)

  override def shuffleBlockResolver: ShuffleBlockResolver = under.shuffleBlockResolver

  override def stop(): Unit = under.stop()
}

/** `write()` time minus the time spent pulling upstream records is the
  * writer's own time, including the commit (data close, index and checksum
  * PUTs), which Spark's writers run inside `write()`; `stop(true)` only
  * returns the map status. */
private class TimedWriter[K, V](under: ShuffleWriter[K, V]) extends ShuffleWriter[K, V] {

  override def write(records: Iterator[Product2[K, V]]): Unit = {
    var upstream = 0L
    val timedRecords = new Iterator[Product2[K, V]] {
      override def hasNext: Boolean = {
        val t = System.nanoTime()
        try records.hasNext finally upstream += System.nanoTime() - t
      }
      override def next(): Product2[K, V] = {
        val t = System.nanoTime()
        try records.next() finally upstream += System.nanoTime() - t
      }
    }
    val t0 = System.nanoTime()
    try under.write(timedRecords)
    finally {
      val end = System.nanoTime()
      Spans.add("writer.write", t0, end, end - t0 - upstream)
    }
  }

  override def stop(success: Boolean): Option[MapStatus] = {
    val t0 = System.nanoTime()
    try under.stop(success)
    finally if (success) Spans.add("writer.stop", t0, System.nanoTime())
  }

  override def getPartitionLengths(): Array[Long] = under.getPartitionLengths()
}

/** `read()` until it returns is the reader's open time (block enumeration
  * and index resolution; with an aggregator or key ordering also the whole
  * fetch, merge and sort, which Spark's readers do eagerly); time inside
  * the returned iterator's calls is the rest of its own time. */
private class TimedReader[K, C](under: ShuffleReader[K, C]) extends ShuffleReader[K, C] {

  override def read(): Iterator[Product2[K, C]] = {
    val t0 = System.nanoTime()
    val it = under.read()
    val opened = System.nanoTime()
    Spans.add("reader.read", t0, opened)
    var inside = 0L
    var last = opened
    var first = true
    TaskContext.get().addTaskCompletionListener[Unit] { _ =>
      Spans.add("reader.iterate", opened, last, inside)
    }
    new Iterator[Product2[K, C]] {
      override def hasNext: Boolean = {
        val t = System.nanoTime()
        try it.hasNext
        finally {
          last = System.nanoTime()
          inside += last - t
        }
      }
      override def next(): Product2[K, C] = {
        val t = System.nanoTime()
        try it.next()
        finally {
          last = System.nanoTime()
          inside += last - t
          if (first) {
            first = false
            Spans.add("reader.first_record", t0, last)
          }
        }
      }
    }
  }
}

/** Job, stage and task metrics from Spark's public listener events. */
class SparkTrace extends SparkListener {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long)]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  val stages = new LongAdder
  val tasks = new LongAdder
  val runMs = new LongAdder
  val cpuNanos = new LongAdder
  val gcMs = new LongAdder
  val fetchWaitMs = new LongAdder
  val writeTimeNanos = new LongAdder
  val writeBytes = new LongAdder
  val readBytes = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add((e.jobId, e.time))

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      runMs.add(m.executorRunTime)
      cpuNanos.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
      writeTimeNanos.add(m.shuffleWriteMetrics.writeTime)
      writeBytes.add(m.shuffleWriteMetrics.bytesWritten)
      readBytes.add(m.shuffleReadMetrics.totalBytesRead)
    }
  }

  def jobs: Int = jobStarts.size

  /** Milliseconds of [from, to] covered by at least one job. */
  def jobCoverMs(from: Long, to: Long): Long = {
    val ends = jobEnds.asScala.toMap
    val spans = jobStarts.asScala.toSeq
      .map { case (id, s) => (math.max(s, from), math.min(ends.getOrElse(id, to), to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0L
    var reach = from
    spans.foreach { case (s, e) =>
      val start = math.max(s, reach)
      if (e > start) {
        covered += e - start
        reach = e
      }
    }
    covered
  }

  def reset(): Unit = {
    jobStarts.clear()
    jobEnds.clear()
    Seq(stages, tasks, runMs, cpuNanos, gcMs, fetchWaitMs, writeTimeNanos, writeBytes, readBytes)
      .foreach(_.reset())
  }
}
