package org.apache.spark.shuffle.cloud

import java.io.InputStream

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.executor.TempShuffleReadMetrics
import org.apache.spark.storage.{BlockId, ShuffleDataBlockId}
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The prefetcher admits a reducer's blocks by bytes onto the executor's
  * bounded fetch pool, so every block within the per-task memory budget has
  * its GET in flight from the start, up to `maxConcurrencyExecutor` GETs
  * per executor. It reports the time the task waits for blocks as Spark's
  * fetch wait. Closing it, as the reader does at task end, leaves no store
  * stream open, and no fetch job ever waits inside the prefetcher. */
class PrefetchPoolSpec extends AnyFunSuite {

  private val threads = 4

  /** An env with a `poolSize`-thread fetch pool and a `budget` per-task
    * budget over a `gatefs` store holding `count` data blocks of `size`
    * bytes, map m's block filled with byte m; `store` keys are the store's
    * own. Returns the env and the prefetcher's input. */
  private def storeWithBlocks(count: Int, size: Int, poolSize: Int = threads,
      store: Seq[(String, String)] = Nil, budget: String = "1m")
      : (CloudShuffleEnv, IndexedSeq[(BlockId, Long, InputStream)]) = {
    val sparkConf = GatedStore.sparkConf(store: _*)
      .set(CloudShuffleEnv.MAX_EXEC_CONCURRENCY_KEY, poolSize.toString)
      .set("spark.reducer.maxSizeInFlight", budget)
    val env = new CloudShuffleEnv(sparkConf, "prefetch-pool-spec")
    (0 until count).foreach { m =>
      val out = env.create(MapOutputId(9001, m), CloudShuffleEnv.Data)
      try out.write(Array.fill[Byte](size)(m.toByte)) finally out.close()
    }
    (env, streams(env, count, size))
  }

  private def blockId(m: Int) = ShuffleDataBlockId(9001, m, 0)

  /** Fresh, unopened streams over the blocks [[storeWithBlocks]] wrote. */
  private def streams(env: CloudShuffleEnv, count: Int, size: Int)
      : IndexedSeq[(BlockId, Long, InputStream)] =
    (0 until count).map { m =>
      (blockId(m): BlockId, size.toLong, new CloudBlockStream(env, MapOutputId(9001, m), 0, size): InputStream)
    }

  /** Threads other than the caller that wait with the prefetcher as their
    * innermost frame outside the JDK, in two snapshots 10 ms apart. The
    * caller, the only consumer, is idle in between, so a wait for budget
    * would show in both, while a queue's brief lock hand-off does not. */
  private def parkedInPrefetcher: Int = {
    def waiting: Set[Thread] = Thread.getAllStackTraces.asScala.collect {
      case (t, frames) if t != Thread.currentThread() && t.getState != Thread.State.RUNNABLE &&
          frames.find(f => !Seq("java.", "jdk.", "sun.").exists(f.getClassName.startsWith))
            .exists(_.getClassName.startsWith(classOf[CloudPrefetchIterator].getName)) => t
    }.toSet
    val first = waiting
    Thread.sleep(10)
    (first & waiting).size
  }

  private def drain(id: BlockId, in: InputStream, size: Int): Unit = {
    val bytes = in.readAllBytes()
    val m = id.asInstanceOf[ShuffleDataBlockId].mapId
    assert(bytes.length == size && bytes.forall(_ == m.toByte), s"wrong bytes for $id")
  }

  test("one reducer keeps every block's GET in flight") {
    // every GET waits until 16 GETs are open together, and a wait that is
    // not met within the store's 10 s fails the read: a prefetcher that
    // runs fewer fetches than the reducer has blocks fails the job
    val maps = 16
    val conf = GatedStore.localSparkConf("prefetch-pool-spec",
      GatedStore.OpenPartiesKey -> maps.toString)
    val sc = new SparkContext(conf)
    try {
      val n = 8000
      val sums = sc.parallelize(0 until n, maps).map(i => (i % 10, i.toLong))
        .reduceByKey(_ + _, 1).collect().toMap
      val expected = (0 until n).groupBy(_ % 10).map { case (k, vs) => k -> vs.map(_.toLong).sum }
      assert(sums == expected)
      val store = CloudShuffleEnv.get().fs.asInstanceOf[GatedStore]
      assert(store.opens.get == maps, "one GET per map output")
      assert(store.opensPeak.get == maps)
    } finally sc.stop()
  }

  test("the per-task budget caps buffered blocks larger than budget / threads") {
    // 400 KiB blocks under a 1 MiB budget: the four pool threads could hold
    // 1.6 MiB, the budget admits two blocks, the one the consumer holds
    // included. A job opens its block only after admission, so GETs opened
    // and not yet delivered, plus the block last delivered, are blocks held
    // against the budget. Spark reads a bare number as MiB.
    val size = 400 * 1024
    Seq("1m", "1").foreach { budget =>
      val (env, blocks) = storeWithBlocks(8, size, budget = budget)
      try {
        assert(env.maxBytesInFlight == (1 << 20), s"budget $budget")
        val store = env.fs.asInstanceOf[GatedStore]
        val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
        var delivered = 0
        var maxHeld = 0
        while (it.hasNext) {
          Thread.sleep(100) // let the pool fetch all the budget admits
          val held = store.opens.get - delivered + math.min(delivered, 1)
          maxHeld = math.max(maxHeld, held)
          val (id, in) = it.next()
          delivered += 1
          drain(id, in, size)
        }
        assert(delivered == 8)
        assert(maxHeld.toLong * size <= (1 << 20), s"$maxHeld blocks held under budget $budget")
        assert(maxHeld == (1 << 20) / size, s"budget $budget")
      } finally env.close()
    }
  }

  test("time waiting for blocks is reported as fetch wait") {
    val (env, blocks) = storeWithBlocks(threads, 1024, store = Seq(GatedStore.OpenDelayKey -> "30"))
    try {
      val metrics = new TempShuffleReadMetrics
      val it = new CloudPrefetchIterator(env, blocks, metrics)
      it.foreach { case (id, in) => drain(id, in, 1024) }
      // the first block cannot arrive before its GET's 30 ms
      assert(metrics.fetchWaitTime >= 25, s"fetch wait ${metrics.fetchWaitTime} ms")
    } finally env.close()
  }

  test("close skips the fetches not yet started") {
    // 8 x 100 KiB fit the 1 MiB budget, so all 8 are admitted at once; the
    // four pool threads each sit in a 200 ms GET while the other four jobs
    // wait for a thread, and close() comes before any GET returns
    val size = 100 * 1024
    val (env, blocks) = storeWithBlocks(8, size, store = Seq(GatedStore.OpenDelayKey -> "200"))
    try {
      val store = env.fs.asInstanceOf[GatedStore]
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      it.close()
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(env.fetchPool.getActiveCount == 0 && env.fetchPool.getQueue.isEmpty)
      }
      assert(store.opens.get <= threads, "a job that starts after close opens nothing")
      assert(store.openInputs.get == 0)
    } finally env.close()
  }

  test("a delivered block holds its budget until the consumer moves on") {
    // 1.5 MiB blocks under a 1 MiB budget: each buffers its first MiB, so
    // while the consumer holds one no other block fits
    val size = 3 << 19
    val (env, blocks) = storeWithBlocks(3, size)
    try {
      val store = env.fs.asInstanceOf[GatedStore]
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      val (first, in) = it.next()
      assert(in.read(new Array[Byte](16)) == 16)
      Thread.sleep(300) // room for a wrongly admitted fetch to open
      assert(store.opens.get == 1 && store.openInputs.get == 1,
        s"${store.openInputs.get} store streams open while the consumer holds $first")
      in.close()
      var delivered = 1
      while (it.hasNext) {
        val (id, next) = it.next()
        delivered += 1
        assert(store.opens.get == delivered, "the next block is admitted once the consumer asks")
        drain(id, next, size)
      }
      assert(delivered == 3)
    } finally env.close()
  }

  test("close closes the delivered and the queued tail streams") {
    // 1.5 MiB blocks under a 1 MiB budget: each buffers its first MiB and
    // keeps its store stream open for the tail
    val size = 3 << 19
    val (env, blocks) = storeWithBlocks(3, size)
    try {
      val store = env.fs.asInstanceOf[GatedStore]
      // the first block is fetched before the consumer asks: its tail is
      // queued
      val queued = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      eventually(timeout(5.seconds), interval(20.millis)) { assert(store.openInputs.get == 1) }
      queued.close()
      eventually(timeout(5.seconds), interval(20.millis)) { assert(store.openInputs.get == 0) }

      val it = new CloudPrefetchIterator(env, streams(env, 3, size), new TempShuffleReadMetrics)
      val (_, in) = it.next()
      assert(in.read(new Array[Byte](16)) == 16)
      // the delivered block's tail is open; it holds the whole budget, so
      // no other block is fetched
      eventually(timeout(5.seconds), interval(20.millis)) { assert(store.openInputs.get == 1) }
      it.close()
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(store.openInputs.get == 0)
        assert(parkedInPrefetcher == 0)
      }
    } finally env.close()
  }

  test("a 200-block read on a 3-thread fetch pool parks no thread in the prefetcher") {
    // 64 KiB blocks: the 1 MiB budget alone would admit 16 of them
    val size = 64 * 1024
    val (env, blocks) = storeWithBlocks(200, size, poolSize = 3,
      store = Seq(GatedStore.OpenDelayKey -> "1"))
    try {
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      var delivered = 0
      while (it.hasNext) {
        assert(parkedInPrefetcher == 0, s"a thread parked in the prefetcher at block $delivered")
        val (id, in) = it.next()
        delivered += 1
        drain(id, in, size)
      }
      assert(delivered == 200)
      assert(env.fetchPool.getLargestPoolSize <= 3,
        s"${env.fetchPool.getLargestPoolSize} fetch threads were live at once")
    } finally env.close()
  }

  test("take(1) over a shuffle larger than the budget leaves no worker parked") {
    val conf = GatedStore.localSparkConf("prefetch-pool-spec")
      .set(CloudShuffleEnv.MAX_EXEC_CONCURRENCY_KEY, threads.toString)
      .set("spark.reducer.maxSizeInFlight", "1m")
    val sc = new SparkContext(conf)
    try {
      // 8 maps of incompressible 512 KiB values into 2 reducers: each block
      // is about two budgets, and every reducer's blocks add up to 16
      val rows = sc.parallelize(0 until 64, 8).map { i =>
        val value = new Array[Byte](512 * 1024)
        new Random(i).nextBytes(value)
        (i, value)
      }.partitionBy(new HashPartitioner(2)).take(1)
      assert(rows.length == 1)
      val store = CloudShuffleEnv.get().fs.asInstanceOf[GatedStore]
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(parkedInPrefetcher == 0)
        assert(store.openInputs.get == 0)
      }
    } finally sc.stop()
  }
}
