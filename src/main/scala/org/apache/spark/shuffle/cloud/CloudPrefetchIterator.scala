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
  * 16-213`): a pool of daemon threads pulls blocks off the fetch list,
  * buffers up to `min(blockSize, maxBufferSizeTask)` bytes each, and hands
  * completed buffers to the consuming task thread through a blocking
  * queue; total buffered bytes never exceed `maxBufferSizeTask`. The pool
  * is fixed at `min(maxConcurrencyTask, blocks)` workers, all fetching
  * from the start: store latency is hidden by keeping that many GETs in
  * flight, and a congested store is bounded by the executor-wide fetch
  * permit (`maxConcurrencyExecutor`), not by shrinking the pool.
  *
  * Completion order is delivery order: reducers don't care which map's
  * block arrives first, so the queue never head-of-line blocks.
  *
  * Time the consumer spends waiting on the queue is Spark's fetch wait: it
  * is reported to `readMetrics` as it accrues.
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

  // fetch wait, consumer thread only: nanoseconds accumulate so that
  // sub-millisecond waits add up before Spark's millisecond counter sees them
  private var waitNanos = 0L
  private var waitMsReported = 0L

  // --- memory budget ------------------------------------------------------
  private val budgetLock = new Object
  private var bufferedBytes = 0L

  private def acquire(size: Long): Unit = budgetLock.synchronized {
    // Always admit at least one in-flight buffer to avoid deadlock on
    // blocks larger than the whole budget.
    while (bufferedBytes > 0 && bufferedBytes + size > env.maxBufferSizeTask) {
      budgetLock.wait()
    }
    bufferedBytes += size
  }

  private def release(size: Long): Unit = budgetLock.synchronized {
    bufferedBytes -= size
    budgetLock.notifyAll()
  }

  // --- worker pool --------------------------------------------------------
  // never more workers than blocks: a worker beyond `total` could never
  // claim an index, and creating it is pure per-task fixed cost
  private val workers = (0 until math.min(env.maxConcurrencyTask, total)).map { i =>
    val t = new Thread(() => workLoop(), s"cloud-shuffle-prefetch-$i")
    t.setDaemon(true)
    t
  }
  workers.foreach(_.start())

  private def workLoop(): Unit = {
    var idx = nextIdx.getAndIncrement()
    while (idx < total) {
      val (blockId, ranged, wrapped) = blocks(idx)
      val toBuffer = math.min(ranged.size, env.maxBufferSizeTask)
      var acquired = false
      try {
        acquire(toBuffer)
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
      } catch {
        case t: Throwable =>
          // only give back budget that was actually taken — an exception
          // inside acquire() itself (e.g. interrupt while parked) must not
          // drive bufferedBytes negative and loosen the cap for others
          if (acquired) release(toBuffer)
          queue.put(Left(t))
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
        throw new RuntimeException(s"cloud shuffle prefetch failed", err)
      case Right(f) =>
        delivered += 1
        // release the budget once the task thread owns the buffer: the
        // bytes are handed off, not duplicated
        release(f.buffered)
        (f.blockId, f.stream)
    }
  }
}
