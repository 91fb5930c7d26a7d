package org.apache.spark.shuffle.cloud

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.shuffle.ShuffleReadMetricsReporter
import org.apache.spark.storage.BlockId

/** Asynchronous, memory-capped block prefetcher — the heart of read
  * performance against high-latency object stores.
  *
  * Behavioral spec from the reference (`S3BufferedPrefetchIterator.scala:
  * 16-213`): workers pull blocks off the fetch list, buffer up to
  * `min(blockSize, maxBufferSizeTask)` bytes each, and hand completed
  * buffers to the consuming task thread through a blocking queue; total
  * buffered bytes never exceed `maxBufferSizeTask`. There are
  * `min(maxConcurrencyTask, blocks)` workers, all fetching from the start
  * on the env's I/O pool: store latency is hidden by keeping that many
  * GETs in flight, and a congested store is bounded by the executor-wide
  * fetch permit (`maxConcurrencyExecutor`), not by fewer workers.
  *
  * Completion order is delivery order: reducers don't care which map's
  * block arrives first, so the queue never head-of-line blocks.
  *
  * Time the consumer spends waiting on the queue is Spark's fetch wait: it
  * is reported to `readMetrics` as it accrues.
  *
  * [[close]] stops the prefetcher: parked workers wake and exit, and every
  * fetched but undelivered stream is closed. The reader calls it at task
  * end, so a consumer that stops early holds no pool thread, buffer or
  * store connection; the first worker error stops the other workers too.
  */
private[cloud] class CloudPrefetchIterator(env: CloudShuffleEnv,
    blocks: IndexedSeq[(BlockId, CloudBlockStream, InputStream)],
    readMetrics: ShuffleReadMetricsReporter)
    extends Iterator[(BlockId, InputStream)] {

  private case class Fetched(blockId: BlockId, stream: InputStream, buffered: Long)

  private val nextIdx = new AtomicInteger(0)
  private val queue = new LinkedBlockingQueue[Either[Throwable, Fetched]]()
  private var delivered = 0
  private val total = blocks.length
  @volatile private var stopped = false
  // the stream last handed to the consumer; consumer thread only
  private var current: InputStream = _

  // fetch wait, consumer thread only: nanoseconds accumulate so that
  // sub-millisecond waits add up before Spark's millisecond counter sees them
  private var waitNanos = 0L
  private var waitMsReported = 0L

  // --- memory budget ------------------------------------------------------
  private val budgetLock = new Object
  private var bufferedBytes = 0L

  /** Takes `size` bytes of budget; false, taking nothing, once stopped. */
  private def acquire(size: Long): Boolean = budgetLock.synchronized {
    // Always admit at least one in-flight buffer to avoid deadlock on
    // blocks larger than the whole budget.
    while (!stopped && bufferedBytes > 0 && bufferedBytes + size > env.maxBufferSizeTask) {
      budgetLock.wait()
    }
    if (!stopped) bufferedBytes += size
    !stopped
  }

  private def release(size: Long): Unit = budgetLock.synchronized {
    bufferedBytes -= size
    budgetLock.notifyAll()
  }

  // --- workers --------------------------------------------------------------
  // never more workers than blocks: a worker beyond `total` could never
  // claim an index
  (0 until math.min(env.maxConcurrencyTask, total)).foreach { _ =>
    CloudShuffleEnv.ioEc.execute(() => workLoop())
  }

  private def workLoop(): Unit = {
    var idx = nextIdx.getAndIncrement()
    while (idx < total && !stopped) {
      val (blockId, ranged, wrapped) = blocks(idx)
      val toBuffer = math.min(ranged.size, env.maxBufferSizeTask)
      var acquired = false
      try {
        if (!acquire(toBuffer)) return
        acquired = true
        // memory first, THEN the executor-wide permit: a task parked on
        // its memory budget must not hold a fetch slot the rest of the
        // executor could use
        val buf = env.withFetchPermit(readUpTo(wrapped, toBuffer))
        val stream: InputStream =
          if (buf.length.toLong >= ranged.size || isExhausted(wrapped)) {
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
          // only give back budget that was actually taken — an exception
          // inside acquire() itself (e.g. interrupt while parked) must not
          // drive bufferedBytes negative and loosen the cap for others
          if (acquired) release(toBuffer)
          try wrapped.close() catch { case _: Exception => }
          if (!stopped) queue.put(Left(t))
          stop()
          return
      }
      idx = nextIdx.getAndIncrement()
    }
  }

  /** The ranged stream reports its own exhaustion; wrappers (decompression)
    * don't, so probe conservatively: only a raw CloudBlockStream can be
    * declared done early. */
  private def isExhausted(s: InputStream): Boolean = s match {
    case c: CloudBlockStream => c.remainingBytes <= 0
    case _                   => false
  }

  private def readUpTo(in: InputStream, limit: Long): Array[Byte] = {
    // the buffered size is known up front (the index gives exact ranges),
    // so read straight into one right-sized array. Blocks beyond
    // byte[]-addressability buffer their first 2 GB; the
    // SequenceInputStream tail streams the rest.
    val size = math.min(limit, (Int.MaxValue - 16).toLong).toInt
    val buf = new Array[Byte](size)
    var off = 0
    var eof = false
    while (off < size && !eof) {
      val n = in.read(buf, off, size - off)
      if (n < 0) eof = true else off += n
    }
    if (off == size) buf else java.util.Arrays.copyOf(buf, off)
  }

  // --- stopping -------------------------------------------------------------
  /** Any thread: wakes parked workers, which then exit, and closes the
    * streams of fetched blocks not yet delivered. A queued error stays for
    * the consumer. */
  private def stop(): Unit = {
    stopped = true
    budgetLock.synchronized(budgetLock.notifyAll())
    discardQueued()
  }

  private def discardQueued(): Unit = {
    val dropped = scala.collection.mutable.ArrayBuffer.empty[Fetched]
    queue.removeIf {
      case Right(f) => dropped += f; true
      case Left(_)  => false
    }
    dropped.foreach { f =>
      try f.stream.close() catch { case _: Exception => }
      release(f.buffered)
    }
  }

  /** Consumer thread: stops the prefetcher and closes the stream it last
    * delivered. Idempotent. */
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
        // release the budget once the task thread owns the buffer: the
        // bytes are handed off, not duplicated
        release(f.buffered)
        current = f.stream
        (f.blockId, f.stream)
    }
  }
}
