package org.apache.spark.shuffle.cloud

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.util.concurrent.LinkedBlockingQueue

import org.apache.spark.shuffle.ShuffleReadMetricsReporter
import org.apache.spark.storage.BlockId

/** Asynchronous, memory-capped block prefetcher — the heart of read
  * performance against high-latency object stores.
  *
  * Behavioral spec from the reference (`S3BufferedPrefetchIterator.scala:
  * 16-213`): each block's fetch buffers up to `min(blockSize, budget)`
  * bytes and hands the buffer to the consuming task thread through a
  * blocking queue; buffered bytes, the block the consumer holds included,
  * never exceed the task's budget. The budget is the env's
  * `maxBytesInFlight`, Spark's own `spark.reducer.maxSizeInFlight`.
  *
  * Admission is by bytes, as Spark's own reader limits a task: the task
  * thread submits one fetch job per block, in block order, to the env's
  * fetch pool while the block's buffer fits the budget (one block is always
  * admitted, so a block larger than the budget still reads) and fewer than
  * pool-size fetches are outstanding. It admits more each time the consumer
  * asks for the next block, after giving back the budget of the block the
  * consumer held. A fetch job therefore never waits on the budget; the
  * budget bounds a task's fetches and the pool, sized by
  * `maxConcurrencyExecutor`, bounds the executor's.
  *
  * Completion order is delivery order: reducers don't care which map's
  * block arrives first, so the queue never head-of-line blocks.
  *
  * Time the consumer spends waiting on the queue is Spark's fetch wait: it
  * is reported to `readMetrics` as it accrues.
  *
  * [[close]] stops the prefetcher: jobs not yet started skip their block,
  * and every fetched but undelivered stream is closed. The reader calls it
  * at task end, so a consumer that stops early holds no buffer or store
  * connection; the first fetch error stops the other jobs too.
  */
private[cloud] class CloudPrefetchIterator(env: CloudShuffleEnv,
    blocks: IndexedSeq[(BlockId, Long, InputStream)],
    readMetrics: ShuffleReadMetricsReporter)
    extends Iterator[(BlockId, InputStream)] {

  private case class Fetched(blockId: BlockId, stream: InputStream, buffered: Long)

  private val queue = new LinkedBlockingQueue[Either[Throwable, Fetched]]()
  private val total = blocks.length
  @volatile private var stopped = false

  // admission state, consumer thread only: blocks submitted and delivered,
  // the budget taken by submitted blocks not yet given back, and the
  // stream last handed to the consumer with its share of that budget
  private var submitted = 0
  private var delivered = 0
  private var heldBytes = 0L
  private var current: InputStream = _
  private var currentBytes = 0L

  // fetch wait, consumer thread only: nanoseconds accumulate so that
  // sub-millisecond waits add up before Spark's millisecond counter sees them
  private var waitNanos = 0L
  private var waitMsReported = 0L

  private def bufferSize(idx: Int): Long = math.min(blocks(idx)._2, env.maxBytesInFlight)

  private def fits(size: Long): Boolean =
    heldBytes == 0 || heldBytes + size <= env.maxBytesInFlight

  /** Consumer thread: submits fetch jobs, in block order, for as many
    * blocks as the budget and the pool size admit. */
  private def admit(): Unit = {
    while (!stopped && submitted < total && submitted - delivered < env.maxConcurrencyExecutor &&
        fits(bufferSize(submitted))) {
      val idx = submitted
      heldBytes += bufferSize(idx)
      submitted += 1
      env.fetchPool.execute(() => fetch(idx))
    }
  }

  admit()

  /** Fetch pool: buffers one block's head and queues it for the consumer. */
  private def fetch(idx: Int): Unit = {
    val (blockId, size, wrapped) = blocks(idx)
    if (stopped) {
      // never opened: the block stream opens on its first read
      try wrapped.close() catch { case _: Exception => }
      return
    }
    try {
      val toBuffer = bufferSize(idx)
      val buf = readUpTo(wrapped, toBuffer)
      val stream: InputStream =
        if (buf.length >= size) {
          wrapped.close()
          new ByteArrayInputStream(buf)
        } else {
          // block bigger than the budget: serve the buffered head, then
          // stream the tail straight from the store
          new SequenceInputStream(new ByteArrayInputStream(buf), wrapped)
        }
      queue.put(Right(Fetched(blockId, stream, toBuffer)))
      // a stop() that drained the queue just before this put missed it
      if (stopped) discardQueued()
    } catch {
      case t: Throwable =>
        try wrapped.close() catch { case _: Exception => }
        if (!stopped) queue.put(Left(t))
        stop()
    }
  }

  private def readUpTo(in: InputStream, limit: Long): Array[Byte] = {
    // the buffered size is known up front (the index gives exact ranges),
    // so read straight into one right-sized array. Blocks beyond
    // byte[]-addressability buffer their first 2 GB; the
    // SequenceInputStream tail streams the rest. A short object fails
    // the read, so the array always fills.
    val buf = new Array[Byte](math.min(limit, (Int.MaxValue - 16).toLong).toInt)
    in.readNBytes(buf, 0, buf.length)
    buf
  }

  // --- stopping -------------------------------------------------------------
  /** Any thread: jobs not yet started skip their block, and the streams of
    * fetched blocks not yet delivered are closed. A queued error stays for
    * the consumer. */
  private def stop(): Unit = {
    stopped = true
    discardQueued()
  }

  private def discardQueued(): Unit = {
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Fetched]
    queue.removeIf {
      case Right(f) => dropped += f; true
      case Left(_)  => false
    }
    dropped.foreach(f => try f.stream.close() catch { case _: Exception => })
  }

  /** Consumer thread: stops the prefetcher, which admits nothing more, and
    * closes the stream it last delivered. Idempotent. */
  def close(): Unit = {
    stop()
    if (current != null) {
      try current.close() catch { case _: Exception => }
      current = null
    }
  }

  // --- consumer side ------------------------------------------------------
  override def hasNext: Boolean = delivered < total

  override def next(): (BlockId, InputStream) = {
    // the consumer has moved on from the block it held: give its budget
    // back before admitting, or a next block larger than the budget could
    // never be admitted
    heldBytes -= currentBytes
    currentBytes = 0
    admit()
    val w0 = System.nanoTime()
    val taken = queue.take()
    waitNanos += System.nanoTime() - w0
    val waitMs = waitNanos / 1000000
    if (waitMs > waitMsReported) {
      readMetrics.incFetchWaitTime(waitMs - waitMsReported)
      waitMsReported = waitMs
    }
    taken match {
      case Left(err) =>
        close()
        throw new RuntimeException(s"cloud shuffle prefetch failed", err)
      case Right(f) =>
        delivered += 1
        current = f.stream
        currentBytes = f.buffered
        (f.blockId, f.stream)
    }
  }
}
