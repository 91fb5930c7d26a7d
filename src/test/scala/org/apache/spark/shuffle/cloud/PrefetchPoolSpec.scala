package org.apache.spark.shuffle.cloud

import java.io.InputStream

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.executor.TempShuffleReadMetrics
import org.apache.spark.storage.{BlockId, ShuffleDataBlockId}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The prefetcher runs `maxConcurrencyTask` GETs at once from its first
  * block, within the per-task memory budget, and reports the time the task
  * waits for blocks as Spark's fetch wait. Closing it, as the reader does
  * at task end, leaves no worker parked and no store stream open. */
class PrefetchPoolSpec extends AnyFunSuite with BeforeAndAfterEach {

  private val threads = 4

  override def beforeEach(): Unit = CloudShuffleEnv.reset()

  override def afterEach(): Unit = CloudShuffleEnv.reset()

  /** An env over a `gatefs` store holding `count` data blocks of `size`
    * bytes, map m's block filled with byte m; returns the env and the
    * prefetcher's input. */
  private def storeWithBlocks(count: Int, size: Int, conf: (String, String)*)
      : (CloudShuffleEnv, IndexedSeq[(BlockId, CloudBlockStream, InputStream)]) = {
    val sparkConf = GatedStore.sparkConf(conf: _*)
      .set(CloudShuffleEnv.MAX_CONCURRENCY_KEY, threads.toString)
      .set(CloudShuffleEnv.MAX_BUFFER_TASK_KEY, "1m")
    val env = new CloudShuffleEnv(sparkConf, "prefetch-pool-spec")
    val blocks = (0 until count).map { m =>
      val id = ShuffleDataBlockId(9001, m, CloudShuffleManager.NOOP_REDUCE_ID)
      val out = env.createBlock(id)
      try out.write(Array.fill[Byte](size)(m.toByte)) finally out.close()
      val stream = new CloudBlockStream(env, id, 0, size)
      (id: BlockId, stream, stream: InputStream)
    }
    (env, blocks)
  }

  /** Threads parked on some prefetcher's memory budget. */
  private def parkedWorkers: Int = Thread.getAllStackTraces.values.asScala.count(_.exists { f =>
    f.getClassName.startsWith(classOf[CloudPrefetchIterator].getName) &&
      f.getMethodName.endsWith("acquire")
  })

  private def drain(id: BlockId, in: InputStream, size: Int): Unit = {
    val bytes = in.readAllBytes()
    val m = id.asInstanceOf[ShuffleDataBlockId].mapId
    assert(bytes.length == size && bytes.forall(_ == m.toByte), s"wrong bytes for $id")
  }

  test("one reducer keeps maxConcurrencyTask GETs in flight") {
    // every GET waits until `threads` GETs are open together: a pool that
    // runs fewer workers never gets past its first block
    val conf = GatedStore.localSparkConf("prefetch-pool-spec",
      GatedStore.OpenPartiesKey -> threads.toString)
      .set(CloudShuffleEnv.MAX_CONCURRENCY_KEY, threads.toString)
    val sc = new SparkContext(conf)
    try {
      val maps = 2 * threads
      val n = 8000
      val sums = sc.parallelize(0 until n, maps).map(i => (i % 10, i.toLong))
        .reduceByKey(_ + _, 1).collect().toMap
      val expected = (0 until n).groupBy(_ % 10).map { case (k, vs) => k -> vs.map(_.toLong).sum }
      assert(sums == expected)
      val store = CloudShuffleEnv.get().fs.asInstanceOf[GatedStore]
      assert(store.opens.get == maps, "one GET per map output")
      assert(store.opensPeak.get == threads)
    } finally sc.stop()
  }

  test("maxBufferSizeTask caps buffered blocks larger than budget / threads") {
    // 400 KiB blocks under a 1 MiB budget: the four workers could hold
    // 1.6 MiB, the budget admits two blocks. A worker opens its block only
    // after taking budget for it, so GETs opened but not yet delivered are
    // blocks held against the budget.
    val size = 400 * 1024
    val (env, blocks) = storeWithBlocks(8, size)
    try {
      val store = env.fs.asInstanceOf[GatedStore]
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      var delivered = 0
      var maxAhead = 0
      while (it.hasNext) {
        Thread.sleep(100) // let the workers take all the budget they can
        maxAhead = math.max(maxAhead, store.opens.get - delivered)
        val (id, in) = it.next()
        delivered += 1
        drain(id, in, size)
      }
      assert(delivered == 8)
      assert(maxAhead == (1 << 20) / size)
    } finally env.fs.close()
  }

  test("time waiting for blocks is reported as fetch wait") {
    val (env, blocks) = storeWithBlocks(threads, 1024, GatedStore.OpenDelayKey -> "30")
    try {
      val metrics = new TempShuffleReadMetrics
      val it = new CloudPrefetchIterator(env, blocks, metrics)
      it.foreach { case (id, in) => drain(id, in, 1024) }
      // the first block cannot arrive before its GET's 30 ms
      assert(metrics.fetchWaitTime >= 25, s"fetch wait ${metrics.fetchWaitTime} ms")
    } finally env.fs.close()
  }

  test("close wakes the workers parked on the memory budget") {
    // 8 x 400 KiB under a 1 MiB budget: after one block is consumed, two
    // more are buffered and the other workers wait for budget
    val size = 400 * 1024
    val (env, blocks) = storeWithBlocks(8, size)
    try {
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      val (id, in) = it.next()
      drain(id, in, size)
      eventually(timeout(5.seconds), interval(20.millis)) { assert(parkedWorkers > 0) }
      it.close()
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(parkedWorkers == 0)
        assert(env.fs.asInstanceOf[GatedStore].openInputs.get == 0)
      }
    } finally env.fs.close()
  }

  test("close closes the delivered and the queued tail streams") {
    // 1.5 MiB blocks under a 1 MiB budget: each buffers its first MiB and
    // keeps its store stream open for the tail
    val size = 3 << 19
    val (env, blocks) = storeWithBlocks(3, size)
    try {
      val store = env.fs.asInstanceOf[GatedStore]
      val it = new CloudPrefetchIterator(env, blocks, new TempShuffleReadMetrics)
      val (_, in) = it.next()
      assert(in.read(new Array[Byte](16)) == 16)
      // the delivered block's tail and the next block's tail are open
      eventually(timeout(5.seconds), interval(20.millis)) { assert(store.openInputs.get == 2) }
      it.close()
      eventually(timeout(5.seconds), interval(20.millis)) {
        assert(store.openInputs.get == 0)
        assert(parkedWorkers == 0)
      }
    } finally env.fs.close()
  }

  test("take(1) over a shuffle larger than the budget leaves no worker parked") {
    val conf = GatedStore.localSparkConf("prefetch-pool-spec")
      .set(CloudShuffleEnv.MAX_CONCURRENCY_KEY, threads.toString)
      .set(CloudShuffleEnv.MAX_BUFFER_TASK_KEY, "64k")
    val sc = new SparkContext(conf)
    try {
      // 8 maps of incompressible 100 KiB values into 2 reducers: every
      // reducer's blocks add up to several budgets
      val rows = sc.parallelize(0 until 64, 8).map { i =>
        val value = new Array[Byte](100 * 1024)
        new Random(i).nextBytes(value)
        (i, value)
      }.partitionBy(new HashPartitioner(2)).take(1)
      assert(rows.length == 1)
      eventually(timeout(5.seconds), interval(20.millis)) { assert(parkedWorkers == 0) }
    } finally sc.stop()
  }
}
