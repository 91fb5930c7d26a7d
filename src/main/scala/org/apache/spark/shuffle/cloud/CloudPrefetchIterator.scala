package org.apache.spark.shuffle.cloud

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.internal.Logging
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
    extends Iterator[(BlockId, InputStream)] with Logging {

  private case class Fetched(blockId: BlockId, stream: InputStream, buffered: Long)

  private val nextIdx = new AtomicInteger(0)
  private val queue = new LinkedBlockingQueue[Either[Throwable, Fetched]]()
  private var delivered = 0
  private val total = blocks.length

  // fetch wait, consumer thread only: nanoseconds accumulate so that
  // sub-millisecond waits add up before Spark's millisecond counter sees them
  private var waitNanos = 0L
  private var waitMsReported = 0L

  // --- read-side statistics (reference S3BufferedPrefetchIterator.scala:
  // 155-186) — the prefetch-side timing calls only run when
  // env.readStatistics is on
  private val statsEnabled = env.readStatistics
  private val startNanos = if (statsEnabled) System.nanoTime() else 0L
  private val bytesRead = new AtomicLong(0L)
  private val prefetchNanos = new AtomicLong(0L)
  private val statsLogged = new AtomicBoolean(false)

  // Early-terminating consumers (limit/take) never reach delivered == total,
  // so a task-completion listener emits their line; the AtomicBoolean makes
  // the emission exactly-once whichever path fires first. Outside a task
  // (unit tests) the drain-side emission is the only path.
  if (statsEnabled) {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null) tc.addTaskCompletionListener[Unit] { _ => logStatistics() }
  }

  private def logStatistics(): Unit = {
    if (!statsLogged.compareAndSet(false, true)) return
    val totalNanos = math.max(1L, System.nanoTime() - startNanos)
    val bR = bytesRead.get()
    val tP = prefetchNanos.get() / 1000000
    val tW = waitNanos / 1000000
    val n = math.max(1, total)
    val mibs = if (tP > 0) bR.toDouble / (tP.toDouble / 1000) / (1024 * 1024) else 0.0
    logInfo(f"cloud shuffle read stats: $delivered/$total blocks, $bR bytes, " +
      f"$tW ms waiting (${tW / n} avg), $tP ms prefetching (${tP / n} avg, " +
      f"${bR / n} block size, $mibs%.1f MiB/s). " +
      f"Total: ${totalNanos / 1000000} ms - ${100 * waitNanos / totalNanos}%% waiting.")
  }

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
        // executor could use. The clock starts INSIDE the permit, so queue
        // wait does not pollute the MiB/s statistics.
        val buf = env.withFetchPermit {
          if (!statsEnabled) readUpTo(wrapped, toBuffer)
          else {
            val t0 = System.nanoTime()
            val b = readUpTo(wrapped, toBuffer)
            prefetchNanos.addAndGet(System.nanoTime() - t0)
            bytesRead.addAndGet(b.length.toLong)
            b
          }
        }
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
        if (statsEnabled && delivered == total) logStatistics()
        (f.blockId, f.stream)
    }
  }
}
